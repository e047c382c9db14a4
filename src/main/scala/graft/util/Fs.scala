package graft.util

/** Filesystem helpers shared by queries, fixtures and tests. */
object Fs {
  /** Recursively delete a file tree — deleteOnExit can't remove non-empty
    * directories, so staged/temp parquet trees must be removed explicitly. */
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** The one scratch-tree policy: a fresh temp directory for `body`,
    * deleted whether the body returns or throws. A body whose result still
    * reads the tree must materialize it before returning. */
  def withTempDir[A](prefix: String)(body: java.io.File => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(tmp)
    finally deleteTree(tmp)
  }

  /** A temp directory that lives for the JVM's lifetime (session-shared
    * caches), where a finally block is the wrong scope and
    * java.io.File.deleteOnExit can't remove non-empty dirs: the tree is
    * deleted by a shutdown hook. One hook per call: callers gate through a
    * mint-once cache. */
  def tempDirUntilExit(prefix: String): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(tmp)))
    tmp
  }
}
