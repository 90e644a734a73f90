package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per streaming job ([[graft.streaming.StreamOps]]):
  * every `writeStream … foreachBatch` in `src/main` goes through
  * `eachBatch`, every gap-session watermark through `gapSessions`, and
  * every stage/rename/rename table swap in StreamOps through `swapIn`.
  * A copy outside its helper fails this spec. A source scan — no
  * SparkSession. */
class StreamMechanismSpec extends AnyFunSuite {
  private val main = Paths.get("src/main")
  private val streamOps =
    main.resolve("scala/graft/streaming/StreamOps.scala")

  /** Code lines of `f` as (line number, text); comment lines dropped. */
  private def code(f: Path): Seq[(Int, String)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l) }
      .filterNot { case (_, l) =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }

  /** Line numbers of the body of `def name` in `f`: the def line and
    * every following line up to the first non-blank line indented no
    * deeper than the def (its closing brace, if it has one). */
  private def body(f: Path, name: String): Set[Int] = {
    val lines = Files.readAllLines(f).asScala.toSeq
    val named = s"\\bdef $name\\b".r
    val at = lines.indexWhere(named.findFirstIn(_).isDefined)
    assert(at >= 0, s"no def $name in $f")
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val d = indent(lines(at))
    val rest = lines.drop(at + 1)
    val stop = rest.indexWhere(l => l.trim.nonEmpty && indent(l) <= d)
    val last = at + 1 + (if (stop < 0) rest.size - 1
      else if (rest(stop).trim.startsWith("}")) stop else stop - 1)
    (at + 1 to last + 1).toSet
  }

  /** Every code line of `files` matching `pattern` lies in the body of
    * `helper` in `home`, and that body has at least one. */
  private def onlyIn(files: Seq[Path], pattern: String, home: Path,
      helper: String): Unit = {
    val inside = body(home, helper)
    val hits = for {
      f <- files
      (n, l) <- code(f) if l.contains(pattern)
    } yield (f, n, l.trim)
    val stray = hits.collect {
      case (f, n, l) if f != home || !inside(n) => s"$f:$n: $l"
    }
    if (stray.nonEmpty)
      fail(s"use $helper instead of `$pattern`:\n" + stray.mkString("\n"))
    if (hits.isEmpty) fail(s"`$pattern` not found in $helper")
  }

  private def mainSources: Seq[Path] = {
    assert(Files.isDirectory(main),
      s"no src/main under ${main.toAbsolutePath}")
    Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
  }

  test("writeStream and foreachBatch appear only in eachBatch") {
    onlyIn(mainSources, ".writeStream", streamOps, "eachBatch")
    onlyIn(mainSources, ".foreachBatch", streamOps, "eachBatch")
  }

  test("the gap-session watermark appears only in gapSessions") {
    onlyIn(mainSources, "withWatermark(\"ts\", s\"${gapMs", streamOps,
      "gapSessions")
  }

  test("StreamOps swaps a table in only through swapIn") {
    onlyIn(Seq(streamOps), "fs.rename(dst, old)", streamOps, "swapIn")
  }
}
