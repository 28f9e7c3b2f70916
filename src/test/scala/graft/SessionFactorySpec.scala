package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main and spec builds its session through [[GraftSession]], so
  * the run checked for correctness and the runs that are timed cannot
  * drift apart again. A source scan keeps a second builder from growing
  * back. */
class SessionFactorySpec extends AnyFunSuite {
  // split so this file does not match its own pattern
  private val builder = ("SparkSession" + """\s*\.\s*builder""").r

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("GraftSession.local is the only session builder under src/main and src/test") {
    val sites = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString.replace('\\', '/'))
    assert(sites == Seq("src/main/scala/graft/GraftSession.scala"),
      s"build sessions through GraftSession.local, not here: ${sites.mkString(", ")}")
  }
}
