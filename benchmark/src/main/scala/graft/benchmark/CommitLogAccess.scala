package graft.benchmark

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit-log reader is `private[graft]`; the benchmark reaches it
  * from inside the package, read-only. */
object CommitLogAccess {
  def readLatest(fs: FileSystem, tableDir: Path): Option[(Long, String)] =
    graft.storage.CommitLog.readLatest(fs, tableDir)
}
