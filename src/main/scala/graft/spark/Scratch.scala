package graft.spark

import java.io.File
import java.nio.file.{Files, Path}

/** The one scratch root of the process, for within-query temp tables
  * (persisted indices, shard sinks) and streaming replay staging and
  * checkpoints: one directory per JVM under `/dev/shm/graft-scratch`
  * (RAM-backed, same rationale as Bench's `spark.local.dir` — the sandbox's
  * shared disk is the noisiest resource; a real deployment writes to
  * provisioned storage), falling back to `java.io.tmpdir`. A shutdown hook
  * removes it. Sibling directories are never listed or pruned, so another
  * JVM's live scratch cannot be deleted from under it, and creating a
  * directory costs one `mkdir`. */
object Scratch {

  private lazy val root: Path = {
    val shm = new File("/dev/shm")
    val dir =
      if (shm.isDirectory && shm.canWrite) {
        val base = new File(shm, "graft-scratch")
        base.mkdirs()
        Files.createTempDirectory(base.toPath, "jvm-")
      } else Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir.toFile)))
    dir
  }

  /** A fresh directory under this JVM's scratch root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  def deleteRecursively(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete()
  }
}
