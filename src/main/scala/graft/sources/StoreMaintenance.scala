package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The bundle protocol every model store in `sources/` shares
  * ([[StoreMaintenance.Bundle]]): the format check and marker, the
  * range-sharded frame writer, the frame reader, and crash-safe
  * compaction. Each store object declares its bundle and frames and
  * keeps only its domain logic.
  *
  * Compaction stages write-new → swap → delete-old, with CRASH
  * RECOVERY so the "reader sees old or new, never half-written"
  * contract survives a process death between the two renames:
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
  * place, and a rename that reports failure leaves `.old` where it
  * is). Until then every append and every liveness test refuses the
  * moved-aside frame ([[Bundle.isLive]]): an append would start a
  * fresh frame holding only its delta, which recovery would then keep
  * in place of `.old`.
  *
  * All moves go through the HADOOP FileSystem resolved from the
  * store path itself, not java.io.File — the stores are written/read
  * through Spark's Hadoop layer, so a bundle on hdfs:// or s3a://
  * must compact through the same API or compact silently no-ops
  * (local-only `exists`) while the 100 TB deployment the stores exist
  * for runs remote. On object stores without atomic rename the swap
  * degrades to the store's copy-based rename — slower, same
  * old-or-new visibility (the `.old` staging still heals a death
  * mid-swap).
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

  /** `FileSystem.rename` reports failure as `false` (copy-based
    * object-store renames do); every move here must either happen or
    * stop the sequence before a delete can drop the only copy. */
  private def rename(f: FileSystem, from: Path, to: Path): Unit =
    if (!f.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed; " +
        "the frame's history is kept where it is")

  /** Heal leftovers of a crashed previous compaction of `dir`. */
  private[sources] def recover(spark: SparkSession, dir: Path,
      tmp: Path, old: Path): Unit = {
    val f = fs(spark, dir)
    if (!f.exists(dir) && f.exists(old)) rename(f, old, dir)
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(old)) f.delete(old, true)
    ()
  }

  /** Swap the freshly-written `tmp` in place of `dir` (which must
    * exist), staging the old frame aside until the new one is live. */
  private[sources] def swap(spark: SparkSession, dir: Path,
      tmp: Path, old: Path): Unit = {
    val f = fs(spark, dir)
    rename(f, dir, old)
    rename(f, tmp, dir)
    f.delete(old, true)
    ()
  }

  /** `df` range-sharded into `nShards` partitions on `keys` and sorted
    * within each on them; with no keys, coalesced to `nShards`. */
  private def shard(df: DataFrame, keys: Seq[String],
      nShards: Int): DataFrame =
    if (keys.isEmpty) df.coalesce(nShards)
    else {
      val ks = keys.map(col)
      df.repartitionByRange(nShards, ks: _*).sortWithinPartitions(ks: _*)
    }

  // ---- store format versioning ----
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

  private def readFormat(spark: SparkSession, path: String): Int = {
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

  /** One frame of a bundle write: `df` lands under `sub`, sharded on
    * `keys` into `nShards` files (see [[shard]]). The writer never
    * de-duplicates: a store whose frames are sets takes `distinct()`
    * itself, and additive counts keep their equal rows. */
  private[sources] final case class Frame(sub: String, df: DataFrame,
      keys: Seq[String] = Nil, nShards: Int = 1)

  /** One model store's bundle: its name and [[version]] (the store
    * object's `FormatVersion`), and a hint naming the semantics that
    * version pins, for the refusal message. */
  private[sources] final case class Bundle(store: String, version: Int,
      hint: String) {

    /** Refuse a bundle whose marker is missing or ≠ [[version]]. A
      * store root that does not exist at all passes — nothing is
      * historical yet (the bootstrap path); write-then-stamp makes the
      * store self-versioning from its first shard. One bounded
      * filesystem probe per open, outside any Spark job — the same
      * class of lookup as the counted broadcast guards. */
    def checkFormat(spark: SparkSession, path: String): Unit = {
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

    /** Stamp the bundle at `path` with [[version]]. Overwrites a stale
      * marker (a full rebuild of an old-format store must BUMP the
      * marker, not inherit it — an only-if-missing stamp left a
      * rebuilt store refusing its own readers); no-ops when the marker
      * is already current, so per-tick append paths pay one read
      * probe, not a write. */
    private def stamp(spark: SparkSession, path: String): Unit =
      if (readFormat(spark, path) != version) {
        val p = markerPath(path)
        val out = fs(spark, p).create(p, true)
        out.write(version.toString.getBytes("UTF-8"))
        out.close()
      }

    /** Whether frame `sub` exists. Refuses one that a compaction has
      * moved aside (live dir gone, `.sub.old` present: [[compact]] is
      * inside its swap window or died there): read as absent, its
      * history would vanish, and an append would start a fresh frame
      * that the next compact's recovery keeps in place of `.old`. The
      * next [[compact]] restores the frame. */
    def isLive(spark: SparkSession, path: String, sub: String): Boolean = {
      val (dir, _, old) = staging(path, sub)
      val live = exists(spark, dir)
      if (!live && exists(spark, old))
        throw new IllegalStateException(s"$store store $path: $sub/ is " +
          s"missing and .$sub.old holds its history (a compaction is " +
          "mid-swap or died there); compact the store to restore it")
      live
    }

    /** Write `frames` into the bundle at `path` with save `mode`. An
      * append first refuses a stale format and every frame that a
      * compaction moved aside — all of them before any frame is
      * written, so a refused append leaves no partial delta behind.
      * The marker is stamped last. */
    def write(path: String, mode: String)(frames: Frame*): Unit = {
      val spark = frames.head.df.sparkSession
      if (mode == "append") {
        checkFormat(spark, path)
        frames.foreach(f => isLive(spark, path, f.sub))
      }
      frames.foreach { f =>
        shard(f.df, f.keys, f.nShards).write.mode(mode)
          .parquet(s"$path/${f.sub}")
      }
      stamp(spark, path)
    }

    /** Frame `sub` as stored, after the format check. A frame with a
      * declared `schema` opens without inferring one, so the open
      * lists files and runs no Spark job. */
    def read(spark: SparkSession, path: String, sub: String,
        schema: Option[StructType] = None): DataFrame = {
      checkFormat(spark, path)
      schema.fold(spark.read)(spark.read.schema(_)).parquet(s"$path/$sub")
    }

    /** Rewrite frame `sub` as `fold` of its files, sharded on `keys`
      * into `nShards` files, staged through a temp dir and swapped in
      * ([[StoreMaintenance]] header). Heals a crashed previous
      * compaction first; a frame the bundle does not hold is skipped,
      * and a stale-format bundle is refused at the read. */
    def compact(spark: SparkSession, path: String, sub: String,
        keys: Seq[String], nShards: Int, schema: Option[StructType] = None)(
        fold: DataFrame => DataFrame): Unit = {
      val (dir, tmp, old) = staging(path, sub)
      recover(spark, dir, tmp, old)
      if (exists(spark, dir)) {
        shard(fold(read(spark, path, sub, schema)), keys, nShards)
          .write.mode("overwrite").parquet(tmp.toString)
        swap(spark, dir, tmp, old)
      }
    }
  }
}
