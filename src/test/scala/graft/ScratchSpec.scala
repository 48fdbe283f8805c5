package graft

import graft.spark.Scratch
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The process's scratch root: one directory per JVM, and handing out a
  * directory never touches another JVM's scratch. */
class ScratchSpec extends AnyFunSuite {

  test("scratch directories share one per-JVM root; an old sibling survives") {
    val a = Scratch.dir("spec_a_")
    val root = a.getParent
    val base = root.getParent
    // another JVM's root, untouched for an hour: still live for all this
    // process can know
    val sibling = Files.createTempDirectory(base, "sibling-")
    try {
      assert(sibling.toFile.setLastModified(System.currentTimeMillis() - 3600L * 1000))
      val b = Scratch.dir("spec_b_")
      assert(b.getParent == root && Files.isDirectory(a) && Files.isDirectory(b))
      assert(Files.isDirectory(sibling), "a sibling scratch directory was deleted")
    } finally Scratch.deleteRecursively(sibling.toFile)
  }
}
