package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared staging for store compaction (Fingerprints, GraphStore,
  * SearchIndex): write-new → swap → delete-old, with CRASH RECOVERY
  * so the "reader sees old or new, never half-written" contract
  * survives a process death between the two renames:
  *
  *   - `.sub.compact` leftover + live dir present → stale tmp from a
  *     crash BEFORE the swap window: delete the tmp, state is clean.
  *   - live dir ABSENT + `.sub.old` present → death INSIDE the swap
  *     window (old moved aside, new not yet moved in): restore the
  *     old dir first; the compaction then re-runs from a live state.
  *
  * Recovery runs at the START of every compact call, so one crashed
  * maintenance tick is healed by the next — no state is ever lost
  * (the pre-swap frame survives as `.old` until the new frame is in
  * place).
  *
  * All moves go through the HADOOP FileSystem resolved from the
  * store path itself (the AnnIndex.readServable discipline), not
  * java.io.File — the stores are written/read through Spark's Hadoop
  * layer, so a bundle on hdfs:// or s3a:// must compact through the
  * same API or compact silently no-ops (local-only `exists`) while
  * the 100 TB deployment the stores exist for runs remote. On
  * object stores without atomic rename the swap degrades to the
  * store's copy-based rename — slower, same old-or-new visibility
  * (the `.old` staging still heals a death mid-swap).
  */
private[sources] object StoreMaintenance {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The three staging paths for frame `sub` of the bundle at
    * `path`: (live, tmp, old). */
  private[sources] def staging(path: String, sub: String):
      (Path, Path, Path) =
    (new Path(s"$path/$sub"), new Path(s"$path/.$sub.compact"),
      new Path(s"$path/.$sub.old"))

  private[sources] def exists(spark: SparkSession, p: Path): Boolean =
    fs(spark, p).exists(p)

  /** Heal leftovers of a crashed previous compaction of `dir`. */
  private[sources] def recover(spark: SparkSession, dir: Path,
      tmp: Path, old: Path): Unit = {
    val f = fs(spark, dir)
    if (!f.exists(dir) && f.exists(old)) f.rename(old, dir)
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(old)) f.delete(old, true)
    ()
  }

  /** Swap the freshly-written `tmp` in place of `dir` (which must
    * exist), staging the old frame aside until the new one is live. */
  private[sources] def swap(spark: SparkSession, dir: Path,
      tmp: Path, old: Path): Unit = {
    val f = fs(spark, dir)
    f.rename(dir, old)
    f.rename(tmp, dir)
    f.delete(old, true)
    ()
  }

  // ---- store format versioning (shared across all twelve stores) ----
  //
  // Every persisted bundle's rows are a deterministic function of some
  // engine-side semantic (minhash byte scheme, tokenizer, PQ codebook
  // layout, band width). If that semantic changes, a store built by
  // OLD code read by NEW code fails SILENTLY: probes stop matching
  // history, gates stop gating, servers serve garbage — no exception
  // anywhere. The `_graft_format` marker (one tiny file at the bundle
  // root holding the writer's format version) converts that into a
  // loud refusal at open time. Each store object owns its own
  // FormatVersion constant and documents what each version means.

  private def markerPath(path: String) = new Path(s"$path/_graft_format")

  private[sources] def readFormat(spark: SparkSession,
      path: String): Int = {
    val p = markerPath(path)
    val f = fs(spark, p)
    if (!f.exists(p)) -1
    else {
      val in = f.open(p)
      val buf = new Array[Byte](16)
      val n = math.max(0, in.read(buf))
      in.close()
      scala.util.Try(new String(buf, 0, n, "UTF-8").trim.toInt)
        .getOrElse(-1)
    }
  }

  /** Stamp the bundle at `path` with `version`. Overwrites a stale
    * marker (a full rebuild of an old-format store must BUMP the
    * marker, not inherit it — the only-if-missing variant this
    * replaces left a rebuilt store refusing its own readers); no-ops
    * when the marker is already current, so per-tick append paths pay
    * one read probe, not a write. */
  private[sources] def markFormat(spark: SparkSession, path: String,
      version: Int): Unit =
    if (readFormat(spark, path) != version) {
      val p = markerPath(path)
      val out = fs(spark, p).create(p, true)
      out.write(version.toString.getBytes("UTF-8"))
      out.close()
    }

  /** Refuse a bundle whose marker is missing or ≠ `version`. A store
    * root that does not exist at all passes — nothing is historical
    * yet (the bootstrap path); append-then-mark makes the store
    * self-versioning from its first shard. One bounded driver-side FS
    * probe per open — the same class of lookup as the counted
    * broadcast guards. */
  private[sources] def checkFormat(spark: SparkSession, path: String,
      version: Int, store: String, hint: String): Unit = {
    val root = new Path(path)
    if (fs(spark, root).exists(root)) {
      val ver = readFormat(spark, path)
      require(ver == version,
        s"$store store at $path has format version " +
          s"${if (ver < 0) "<unversioned>" else ver}, this build " +
          s"reads $version ($hint); rebuild the store before reading " +
          "or appending against it")
    }
  }
}
