package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** Throwaway directories (battery warehouses, streaming sinks, probe
  * warehouses) under `java.io.tmpdir`, deleted when the JVM exits.
  * Battery entries return lazy DataFrames over their warehouse, so a
  * directory must outlive the entry that made it; exit is the first
  * point where nothing can read it any more. */
object ScratchDirs {
  private val dirs = new ConcurrentLinkedQueue[File]()

  Runtime.getRuntime.addShutdownHook(
    new Thread(() => dirs.forEach(deleteRecursively), "graft-scratch-cleanup"))

  /** A new empty directory `<java.io.tmpdir>/<prefix><random>`. */
  def create(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    dirs.add(d)
    d.getPath
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
