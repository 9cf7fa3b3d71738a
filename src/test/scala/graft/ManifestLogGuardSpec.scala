package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The commit protocol lives in `spark/ManifestLog.scala` only: the stores
  * under `ops/` and `spark/` once each carried their own copy of the atomic
  * rename, the recursive delete and the numbered-manifest lookup, and the
  * copies had to be fixed one by one. This scan fails when one comes back. */
class ManifestLogGuardSpec extends AnyFunSuite {

  private val forbidden = Seq(
    "ATOMIC_MOVE" -> "ATOMIC_MOVE".r,
    "Files.walk" -> "Files\\.walk".r,
    "numbered-manifest regex" -> """(manifest|snapshot)-\\{1,2}d""".r)

  test("atomic moves, recursive deletes and manifest-name regexes appear only in ManifestLog") {
    val dirs = Seq("ops", "spark").map(d => Paths.get("src", "main", "scala", "graft", d))
    dirs.foreach(d => assert(Files.isDirectory(d), s"$d not found from ${Paths.get("").toAbsolutePath}"))
    val hits = for {
      d <- dirs
      f <- Files.walk(d).iterator().asScala.toVector
      if f.toString.endsWith(".scala") && f.getFileName.toString != "ManifestLog.scala"
      (line, i) <- Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex
      (what, re) <- forbidden
      if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $what"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
