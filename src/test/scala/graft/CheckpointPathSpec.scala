package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One checkpoint path ([[graft.operators.Ckpt]]): every lineage cut
  * in the library goes through `Ckpt.cut`, so the reliable mode
  * (`spark.graft.checkpoint.dir`) covers all of them. A raw
  * `localCheckpoint(`/`.checkpoint(` call anywhere in `src/main`
  * outside `Ckpt.scala` fails this spec. A source scan — no
  * SparkSession. */
class CheckpointPathSpec extends AnyFunSuite {
  private val raw = """localCheckpoint\(|\.checkpoint\(""".r

  test("no raw localCheckpoint/checkpoint call outside Ckpt.scala") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main),
      s"no src/main under ${main.toAbsolutePath}")
    val files = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
    assert(files.exists(_.getFileName.toString == "Ckpt.scala"))
    val hits = for {
      f: Path <- files if f.getFileName.toString != "Ckpt.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use Ckpt.cut instead:\n" + hits.mkString("\n"))
  }
}
