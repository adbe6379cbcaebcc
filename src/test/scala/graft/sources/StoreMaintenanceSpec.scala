package graft.sources

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** A local file system, mounted under the `norename` scheme, whose
  * `rename` reports failure (returns `false`, as a copy-based
  * object-store rename can) for every move of a staged `.`-prefixed
  * frame back into place; other renames, such as the move of a live
  * frame aside, succeed. */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def getScheme: String = "norename"
  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.startsWith(".") && super.rename(src, dst)
}

class StoreMaintenanceSpec extends graft.SparkSpec {

  test("a rename that reports failure stops swap and recover; .old survives") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[FailingRenameFs].getName)
    conf.setBoolean("fs.norename.impl.disable.cache", true)
    val base = java.nio.file.Files.createTempDirectory("graft-rename")
    val (dir, tmp, old) =
      StoreMaintenance.staging(s"norename://$base/store", "edges")
    def local(p: Path) = new java.io.File(p.toUri.getPath)
    val history = new java.io.File(local(old), "part-00000.parquet")
    local(dir).mkdirs()
    new java.io.File(local(dir), history.getName).createNewFile()
    local(tmp).mkdirs()
    // the live frame moves aside, the new one fails to move in: the
    // swap must stop before it deletes .old, the only copy left
    intercept[java.io.IOException](StoreMaintenance.swap(spark, dir, tmp, old))
    assert(history.exists(), "swap deleted .old after a failed rename")
    assert(!local(dir).exists())
    // the next compaction's recovery fails to restore .old the same way
    intercept[java.io.IOException](
      StoreMaintenance.recover(spark, dir, tmp, old))
    assert(history.exists(), "recover deleted .old after a failed rename")
  }
}
