package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala`: a scaladoc block directly
  * followed (blank lines aside) by another scaladoc block documents
  * nothing, or documents the wrong def once code moves around it.
  * Every doc comment must sit on the declaration it describes.
  */
class DocLintSpec extends AnyFunSuite {

  test("no scaladoc block is directly followed by another scaladoc block") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val walk = java.nio.file.Files.walk(root)
    try {
      val it = walk.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".scala")) {
          val lines = java.nio.file.Files.readAllLines(p)
            .toArray(Array.empty[String]).map(_.trim)
          var docStart = -1
          lines.indices.foreach { i =>
            if (docStart < 0 && lines(i).startsWith("/**")) docStart = i
            if (docStart >= 0 && lines(i).endsWith("*/")) {
              val next = lines.indexWhere(_.nonEmpty, i + 1)
              if (next >= 0 && lines(next).startsWith("/**"))
                bad += s"$p:${docStart + 1}: orphaned by the doc at line ${next + 1}"
              docStart = -1
            }
          }
        }
      }
    } finally walk.close() // Files.walk holds directory handles open
    assert(bad.isEmpty,
      s"orphaned scaladoc (move each block onto its def):\n${bad.mkString("\n")}")
  }
}
