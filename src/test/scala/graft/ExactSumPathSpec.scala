package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One exact-sum path ([[graft.functions.Exact]]): a `sum(` over a
  * `.cast("decimal(` (the per-row BigDecimal form Exact replaces) or a
  * use of the `ExactMean` aggregator anywhere in `src/main` outside
  * `Exact.scala` fails this spec, unless the allowlist below names it
  * with its reason. A source scan — no SparkSession. */
class ExactSumPathSpec extends AnyFunSuite {

  /** (file, text on the summing line, why it is not an Exact sum) */
  private val allowed = Seq(
    ("Skew.scala", "\"decimal(27,2)\"",
      "salted partial sums, summed again across salts"),
    ("Joins.scala", "col(\"l_quantity\"), 2).cast(\"decimal(18,2)\")",
      "q13's per-order partial, summed again by the second aggregate"),
    ("Extras.scala", "(x * x)", "a product, not an exact double at scale 4"),
    ("Extras.scala", "(y * y)", "a product, not an exact double at scale 4"),
    ("Extras.scala", "(x * y)", "a product, not an exact double at scale 4"),
    ("Curation2.scala", "(col(\"x\") * col(\"x\"))",
      "q177 sxx, a product, not an exact double at scale 14"),
    ("Changes.scala", "sum(c.cast(\"decimal(20,0)\"))",
      "dsum20: the fuzz gate pins its integer overflow-as-NULL contract"),
    ("Changes.scala", "sum(a.cast(\"decimal(20,0)\") * b)",
      "dsum20's products: the same overflow-as-NULL contract"),
    ("Udaf.scala", "ExactMean(",
      "q44 compares this aggregator to an oracle with its own rounding"),
    ("Cdc.scala", "cast(s\"decimal(18,$scale)\")",
      "the maintained view's decimal `s` that maintainAgg adds deltas to"),
    ("Components.scala", "sum(col(\"component\").cast(\"decimal(38,0)\"))",
      "an integer label checksum, decimal so huge id spaces cannot wrap"),
    ("Components.scala", "sum(col(\"u\").cast(\"decimal(38,0)\") +",
      "an integer edge checksum, decimal so huge id spaces cannot wrap"),
    ("Stats.scala", ".cast(\"decimal(38,0)\")",
      "integer moments kept decimal for exact integer closing arithmetic"),
    ("StreamOps.scala", "sum(when(col(\"__bin\") === b,",
      "integer conf-mass counters: past int64 a loud NULL, as in batch"))

  private val decimalCast = """\.cast\(s?"decimal\(""".r

  /** `sum(` sites whose argument holds a decimal cast, plus every
    * `ExactMean(`: (file name, line number, line). */
  private def sites(f: Path): Seq[(String, Int, String)] = {
    val text = new String(Files.readAllBytes(f), "UTF-8")
    val lines = text.split("\n", -1)
    def lineOf(i: Int) = text.substring(0, i).count(_ == '\n')
    def argEnd(open: Int): Int = {
      var depth = 0
      var i = open
      while (i < text.length) {
        text(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) return i
          case _ =>
        }
        i += 1
      }
      text.length
    }
    val sums = """\bsum\(""".r.findAllMatchIn(text).filter { m =>
      val open = m.end - 1
      decimalCast.findFirstIn(text.substring(open, argEnd(open)))
        .isDefined
    }.map(_.start)
    val means = """(?<!class )ExactMean\(""".r.findAllMatchIn(text)
      .map(_.start)
    val name = f.getFileName.toString
    (sums ++ means).map(lineOf).toSeq.distinct.sorted
      .map(l => (name, l + 1, lines(l).trim))
  }

  test("no decimal-cast sum outside Exact.scala except the allowlist") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main),
      s"no src/main under ${main.toAbsolutePath}")
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.exists(_.getFileName.toString == "Exact.scala"))
    val hits = files.filter(_.getFileName.toString != "Exact.scala")
      .flatMap(sites)
    def entry(h: (String, Int, String)) = allowed.find {
      case (file, text, _) => file == h._1 && h._3.contains(text) }
    val stray = hits.filter(entry(_).isEmpty)
    assert(stray.isEmpty, "use graft.functions.Exact.sum instead:\n" +
      stray.map { case (f, l, s) => s"$f:$l: $s" }.mkString("\n"))
    val stale = allowed.filterNot(a => hits.exists(entry(_).contains(a)))
    assert(stale.isEmpty, s"allowlist entries matching nothing: $stale")
  }
}
