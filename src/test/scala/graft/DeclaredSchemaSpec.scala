package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.Fingerprints
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The driver tables and the fingerprint store open with declared
  * schemas: each declaration must equal what Spark infers from the
  * files, and an open must run no Spark job. */
class DeclaredSchemaSpec extends SparkSpec {

  /** Every scale factor of the test data, beside `sfDir`. */
  private val sfDirs = {
    val root = new java.io.File(sfDir).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"$root/$d")
  }

  /** A store left by each writer: `write`, one `append`, and both
    * perceptual tiers (written, then appended to). */
  private lazy val store: String = {
    val path = Files.createTempDirectory("graft-fp-schema")
      .resolve("store").toString
    val docs = Tables(spark, sfDir, "documents")
    Fingerprints.write(docs.filter(col("doc_id") < 60L), path, nShards = 2)
    Fingerprints.append(docs.filter(col("doc_id").between(60L, 99L)), path)
    val hashes = spark.range(12).select(col("id").as("doc_id"),
      xxhash64(col("id")).as("phash"))
    for (sub <- Seq("phash_bands", "ahash_bands");
         mode <- Seq("overwrite", "append"))
      Fingerprints.writePhashBands(hashes, path, mode = mode, sub = sub)
    path
  }

  private val storeFrames = Seq(
    "content" -> Fingerprints.ContentSchema,
    "bands" -> Fingerprints.BandsSchema,
    "spans" -> Fingerprints.SpansSchema,
    "phash_bands" -> Fingerprints.PerceptualBandsSchema,
    "ahash_bands" -> Fingerprints.PerceptualBandsSchema)

  /** Jobs submitted from this thread while `body` runs. Listener events
    * arrive asynchronously but in order, so once a marked sentinel job
    * run after `body` reaches the listener, every job `body` started
    * has reached it too. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.phase"
    val started = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body") => started.incrementAndGet()
          case Some("sentinel") => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  test("every driver table's declared schema is what Spark infers, at every scale factor") {
    assert(Tables.names.size == 10 &&
      Tables.names.toSet == Tables.schemas.keySet)
    for (dir <- sfDirs; name <- Tables.names) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables(spark, dir, name).schema == inferred,
        s"$dir/$name: declared ${Tables.schemas(name).toDDL}, " +
          s"files infer ${inferred.toDDL}")
    }
  }

  test("every fingerprint-store frame the writers leave infers to its declared schema") {
    def check(when: String): Unit =
      storeFrames.foreach { case (sub, declared) =>
        val inferred = spark.read.parquet(s"$store/$sub").schema
        assert(inferred == declared, s"$sub after $when: declared " +
          s"${declared.toDDL}, files infer ${inferred.toDDL}")
      }
    check("write + append")
    Fingerprints.compact(spark, store, nShards = 2)
    check("compact")
  }

  test("opening a driver table or a fingerprint frame runs no Spark job") {
    val path = store // built outside the counted region
    val jobs = jobsDuring {
      Tables.names.foreach(n => Tables(spark, sfDir, n).schema)
      Fingerprints.readContent(spark, path).schema
      Fingerprints.readBands(spark, path).schema
      Fingerprints.readSpans(spark, path).schema
      Fingerprints.readPhashBands(spark, path).schema
    }
    assert(jobs == 0, s"opening 10 tables and 4 store frames ran $jobs jobs")
    // the counter sees an inferred open: one schema-merge job
    assert(jobsDuring(spark.read.parquet(s"$path/content").schema) >= 1)
  }

  test("a store with no perceptual tier reads as an empty frame of the declared schema") {
    val path = Files.createTempDirectory("graft-fp-empty").toString
    val empty = Fingerprints.readPhashBandsOrEmpty(spark, path)
    assert(empty.schema == Fingerprints.PerceptualBandsSchema)
    assert(empty.isEmpty)
  }
}
