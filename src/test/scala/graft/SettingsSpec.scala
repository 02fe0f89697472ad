package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every `graft.…` / `spark.graft.…` setting the engine reads is listed in
  * the README's Settings section, and nothing else is: a setting added
  * to the code has to be documented there.
  */
class SettingsSpec extends AnyFunSuite {

  private val key = """(?:spark\.)?graft\.[A-Za-z0-9_.]+"""

  test("the settings the code reads are exactly the README's Settings section") {
    val read = "\\.(?:get|getOption)\\(\\s*\"(" + key + ")\""
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val inCode = sources.flatMap { p =>
      read.r.findAllMatchIn(java.nio.file.Files.readString(p)).map(_.group(1))
    }.toSet
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val section = readme.linesIterator.dropWhile(_ != "## Settings").drop(1)
      .takeWhile(!_.startsWith("## ")).toSeq
    assert(section.nonEmpty, "README has no Settings section")
    // one table row per setting: | `key` | default | what it selects |
    val listed = section.flatMap(l => ("""^\| `(""" + key + """)` \|""").r
      .findFirstMatchIn(l).map(_.group(1))).toSet
    assert(inCode == listed,
      s"read but not listed: ${inCode -- listed}; listed but not read: ${listed -- inCode}")
    assert(inCode.size == 4, inCode.toSeq.sorted.mkString(", "))
  }
}
