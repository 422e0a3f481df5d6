package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc keeps only the last of two consecutive doc comments, so a
  * doc comment followed directly by another one silently drops the
  * first. No Spark. */
class DocCommentSpec extends AnyFunSuite {

  test("no doc comment in src/main is followed directly by another doc comment") {
    val root = java.nio.file.Path.of("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val doubled = """\*/\s*/\*\*""".r
    val files = java.nio.file.Files.walk(root)
    val hits = try {
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        doubled.findAllMatchIn(src).map(m => s"$p:${src.take(m.start).count(_ == '\n') + 1}")
      }.toList
    } finally files.close()
    assert(hits.isEmpty, s"doubled doc comments:\n${hits.mkString("\n")}")
  }
}
