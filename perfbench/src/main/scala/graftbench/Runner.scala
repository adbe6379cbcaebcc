package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import graft.{Bench, SparkEntry, Tables}
import graft.sources.{Fingerprints, Ingest}

/** One unit of a workload: `build` constructs the step's DataFrame (the
  * graft query function, or an ingest tick's gate-and-remember), the
  * runner then runs its action, and `maintain` (store compaction) runs
  * last when present. */
final case class Step(name: String, build: SparkSession => DataFrame,
    maintain: Option[SparkSession => Unit] = None)

/** The measuring JVM of the benchmark. It builds the session the way
  * graft's Bench does, opens the workload's tables, runs one cold pass
  * over the workload's steps (writing each output as parquet for the
  * caller's checks), then a fixed number of warm passes in a closed
  * loop with one client, and writes a JSON run record.
  *
  * Usage: Runner --workload W --inputs DIR --work DIR --seconds S
  *   --trace 0|1 --cpus N --out FILE
  */
object Runner {

  val QuerySteps: Map[String, Seq[String]] = Map(
    "mapreduce_longdoc" -> Seq("mr_pipeline", "mr_fold_reduce",
      "mr_e2e_model", "mr_chunk_overlap", "text_normalize", "score_f1",
      "score_bleu", "score_rougeL"),
    "curate_dedup" -> Seq("curate_e2e", "dedup_pipeline", "dedup_cluster"))

  /** Ingest compacts the store after every CompactEvery-th tick. */
  val CompactEvery = 2

  /** Nominal seconds of one warm pass on a 4-core box. A run measures
    * seconds ÷ nominal warm passes (at least one): a fixed number for a
    * given --seconds, so every run sits at the same point of the JIT's
    * warm-up curve, and a slower program takes longer instead of
    * measuring fewer, colder passes. */
  val NominalPassS: Map[String, Double] = Map("mapreduce_longdoc" -> 2.5,
    "curate_dedup" -> 10.0, "ingest_ticks" -> 5.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (workload, inputs, work) = (a("workload"), a("inputs"), a("work"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus")
    val ingest = workload == "ingest_ticks"
    val shards = new File(inputs).list().filter(_.startsWith("shard_")).sorted
      .map(_.stripSuffix(".parquet")).toSeq
    val tables = if (ingest) "history" +: shards else Seq("documents")

    // ---- set-up: session, kernels, tables (the part setup_s times) ----
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = Bench.buildSession(cpus)
    graft.plans.GraftFunctions.register(spark)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val opens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => Tables(spark, inputs, t).schema)
      (System.nanoTime() - t0) / 1e9
    }

    // ---- ingest: the seeded store is input, built outside set-up ----
    val store = s"$work/store"
    val pristine = s"$work/store-seed"
    if (ingest) {
      deleteTree(Paths.get(pristine))
      Fingerprints.write(Tables(spark, inputs, "history"), pristine)
    }
    val decisions = new StringBuilder
    val storeFiles = ArrayBuffer[Long]()  // probe-side files, per tick
    var written = 0L

    val steps: Seq[Step] =
      if (ingest) shards.zipWithIndex.map { case (sh, t) =>
        Step(f"tick_$t%02d",
          s => Ingest.gateAndRemember(Tables(s, inputs, sh), store),
          if (t % CompactEvery == CompactEvery - 1)
            Some(s => Fingerprints.compact(s, store)) else None)
      }
      else QuerySteps(workload).map(n => Step(n, s => SparkEntry.queries(n)(s, inputs)))

    val tracer = new Tracer(spark, cpus.toInt)
    val errors = ArrayBuffer[String]()

    /** One pass; returns (wall s, per-step (name, s, ok), layer sums). */
    def pass(i: Int, cold: Boolean, trace: Boolean) = {
      if (ingest) {
        deleteTree(Paths.get(store))
        copyTree(Paths.get(pristine), Paths.get(store))
      }
      System.gc()
      tracer.setPass(i)
      if (trace) tracer.attach()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val lat = ArrayBuffer[(String, Double, Boolean)]()
      val t0 = System.nanoTime()
      steps.foreach { st =>
        val filesBefore = if (ingest) listFiles(store) else Set.empty[String]
        if (ingest) storeFiles += filesBefore.count(probed)
        val s0 = System.nanoTime()
        val ok = try {
          tracer.span(st.name, "step") {
            val df = tracer.span("construct", "operators")(st.build(spark))
            tracer.span("action", "action") {
              if (ingest) {
                df.select(col("doc_id"), col("accept"), col("bloom_pass"),
                  col("is_exact_dup")).collect().foreach { r =>
                  decisions ++= s"$i,${st.name},${r.getLong(0)},${r.getLong(1)}," +
                    s"${r.getLong(2)},${r.getLong(3)}\n"
                }
              } else if (cold) {
                df.write.mode("overwrite").parquet(s"$work/out/${st.name}")
              } else {
                df.write.format("noop").mode("overwrite").save()
              }
            }
            st.maintain.foreach(m =>
              tracer.span("compact", "sources.compact")(m(spark)))
          }
          true
        } catch {
          case e: Throwable =>
            errors += s"pass $i ${st.name}: ${e.getClass.getName}: ${e.getMessage}"
            false
        }
        lat += ((st.name, (System.nanoTime() - s0) / 1e9, ok))
        if (ingest) {
          written += (listFiles(store) -- filesBefore).count(_.endsWith(".parquet"))
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val layers =
        if (trace) {
          val fs = if (ingest) (written, listFiles(store).count(probed).toLong)
                   else (0L, 0L)
          val m = tracer.closePass(i, wall,
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
            CodeGenerator.compileTime - n0, fs)
          tracer.detach()
          m
        } else Map.empty[String, Double]
      written = 0L
      // drop cached and checkpointed residue outside the timed region
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = true))
      (wall, lat.toSeq, layers)
    }

    val cold = pass(0, cold = true, trace = false)
    val warm = ArrayBuffer[(Double, Seq[(String, Double, Boolean)], Map[String, Double], Boolean)]()
    val measured = math.max(1, (seconds / NominalPassS(workload)).toInt)
    // A traced run starts with one untraced warm-up pass, then repeats
    // blocks of untraced, traced, traced, untraced passes, so the JIT's
    // warm-up trend cancels out of the tracing overhead, which is
    // measured in one JVM on one input.
    val total = if (traced) 1 + 4 * math.max(1, measured / 4) else measured
    for (k <- 0 until total) {
      val t = traced && k >= 1 && ((k - 1) % 4 == 1 || (k - 1) % 4 == 2)
      val (w, l, m) = pass(k + 1, cold = false, trace = t)
      warm += ((w, l, m, t))
    }

    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    if (ingest) Files.writeString(Paths.get(s"$work/decisions.csv"),
      decisions.toString)
    if (traced) Files.writeString(Paths.get(s"$work/spans.json"),
      Json.write(tracer.allSpans))
    val oracles = steps.flatMap(s => SparkEntry.oracleSql.get(s.name)
      .map(s.name -> _)).toMap

    def passJson(p: (Double, Seq[(String, Double, Boolean)])) =
      Map("wall_s" -> p._1, "steps" -> p._2.map { case (n, s, ok) =>
        Map("name" -> n, "s" -> s, "ok" -> ok) })
    val record = Map(
      "session_s" -> sessionS,
      "setup_s" -> opens.map(sessionS + _),
      "cold" -> passJson((cold._1, cold._2)),
      "warm" -> warm.map(w => passJson((w._1, w._2)) ++
        Map("traced" -> w._4, "layers" -> w._3)),
      "peak_rss_mb" -> rssMb,
      "cores" -> spark.sparkContext.defaultParallelism,
      "store_files" -> storeFiles,
      "oracle_sql" -> oracles,
      "errors" -> errors)
    Files.writeString(Paths.get(a("out")), Json.write(record))
    spark.stop()
  }

  /** Data files the ingest gate probes: the store's content and bands. */
  private def probed(f: String): Boolean =
    (f.contains("/content/") || f.contains("/bands/")) && f.endsWith(".parquet")

  private def listFiles(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.toString).toSet
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
}
