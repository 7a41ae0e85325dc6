package graft

import org.scalatest.Assertions.fail

/** Reads of the reference's test fixtures (FIXTURES.md §3). A host without
  * them fails each such test with one message naming the missing path, so
  * the output tells "fixture corpus absent" apart from "program wrong". */
object FixtureCorpus {

  private def absent(path: Any): Nothing = fail(s"fixture corpus absent: $path")

  /** The directory itself; fails the test when it does not exist. */
  def require(dir: String): Unit =
    if (!new java.io.File(dir).isDirectory) absent(dir)

  def readAllBytes(path: java.nio.file.Path): Array[Byte] =
    if (java.nio.file.Files.exists(path)) java.nio.file.Files.readAllBytes(path) else absent(path)

  def listFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(absent(dir))
}
