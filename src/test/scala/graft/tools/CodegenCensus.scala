package graft

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Dev probe: how many whole-stage/expression classes Janino compiles
  * while the registry runs, pass by pass, in one JVM.
  *
  * Each pass runs every selected query once, in name order, into a
  * noop sink (Bench's shape), and records per query the compiles it
  * caused (`CodegenMetrics.METRIC_COMPILATION_TIME`'s count). After
  * each pass it records metaspace and code-cache (`CodeHeap*` pools)
  * usage. A query whose second-pass count is not 0 either evicted its
  * own classes (the cache is smaller than the working set) or
  * generates different source on every run.
  *
  * One pass per entry of `<sfDirs>`: `sf0.001,sf0.001` is the
  * registry's own two-pass census; `sf0.001,sf0.1,sf0.1` is Bench's
  * shape (warm-up at sf0.001, then timed reps at sf0.1, one JVM).
  * `cap` overrides `spark.sql.codegen.cache.maxEntries` (a static,
  * JVM-global conf, so it must be set on the JVM's first session);
  * without it the census measures `Tables.configure`'s cap.
  *
  * Usage: Test/runMain graft.CodegenCensus <out.json> <label>
  *          <sfDir1,sfDir2,...> [cap|-] [q1,q2,...]
  * The run is stored under `<label>` in `<out.json>`; other labels in
  * an existing file are kept. Prints one summary line per pass.
  */
object CodegenCensus {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: CodegenCensus <out.json> <label> <sfDirs> [cap|-] [queries]")
    val Array(out, label, dirs) = args.take(3)
    val passes = dirs.split(",").map(_.trim).toSeq
    val cap = args.lift(3).filter(_ != "-")
    val only = args.lift(4).map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val key = "spark.sql.codegen.cache.maxEntries"
    val builder = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
    val spark = cap.fold(builder)(builder.config(key, _)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME

    val run = mapper.createObjectNode()
    run.put("cap", spark.conf.get(key).toInt)
    run.put("cpus", cpus.toInt)
    run.put("queries", picked.size)
    val passNodes = run.putArray("passes")
    passes.zipWithIndex.foreach { case (dir, i) =>
      val node = passNodes.addObject()
      node.put("sf", new File(dir).getName)
      val perQuery = node.putObject("compiles_by_query")
      val failed = node.putArray("failed")
      val before = compiles.getCount
      val t0 = System.nanoTime()
      picked.foreach { case (name, fn) =>
        val c0 = compiles.getCount
        try fn(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => failed.add(s"$name: $e") }
        perQuery.put(name, compiles.getCount - c0)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val total = compiles.getCount - before
      node.put("compiles", total)
      node.put("wall_s", math.rint(wall * 10) / 10)
      val (meta, code) = memory()
      node.put("metaspace_mb", meta)
      node.put("code_cache_mb", code)
      println(f"[census] $label pass ${i + 1} ${node.get("sf").asText}: " +
        f"$total compiles, $wall%.1f s, metaspace $meta MB, " +
        f"code cache $code MB, ${failed.size} failed")
    }
    spark.stop()

    val file = new File(out)
    val root = if (file.exists) mapper.readTree(file).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    root.set[ObjectNode](label, run)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
  }

  /** Used MB of the metaspace and of the JIT code cache, after a GC so
    * that unloaded generated classes are not counted. */
  private def memory(): (Long, Long) = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def used(p: String => Boolean) =
      pools.filter(b => p(b.getName)).map(_.getUsage.getUsed).sum >> 20
    (used(_ == "Metaspace"), used(_.startsWith("CodeHeap")))
  }
}
