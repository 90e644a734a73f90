package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.Metlink
import graft.plans.PreparedProjection
import graft.sources.Sources

/** Dev-only probe: same-JVM A/B of the Metlink snapshot transform in
  * its DataFrame form (`featureCollection(pipeline(jsonDocument))`,
  * planned and folded by the optimizer on every call) against the
  * prepared form (`Metlink.snapshot`, planned once per session), per
  * stage. Each stage is timed cumulatively, from the body string
  * through `from_json`, then the Features, then the dedup, then the
  * `to_json` wrap; a stage's own cost is its difference from the
  * previous one. The last stage of each form is the public entry.
  *
  * Usage: Test/runMain graft.ProbeMetlinkPrepared [entities] [reps]
  *   [warmup] [seed]  (defaults 600 200 320 101; eight snapshots)
  */
object ProbeMetlinkPrepared {

  private def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val entities = args.lift(0).map(_.toInt).getOrElse(600)
    val reps = args.lift(1).map(_.toInt).getOrElse(200)
    val warmup = args.lift(2).map(_.toInt).getOrElse(320)
    val seed = args.lift(3).map(_.toLong).getOrElse(101L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val bodies = (0 until 8).map(i => MetlinkPreparedSpec.render(
      MetlinkPreparedSpec.document(new Random(seed + i), entities,
        10 * entities)))
    val cfg = Metlink.Config()
    val stages = Metlink.stages(cfg)
    val parse: DataFrame => DataFrame = _.select(
      from_json(col("value"), Metlink.vehicleSchema)
        .getField("entity").as("entity"))
    val features = parse.andThen(stages.head)
    val dedup = stages.tail.foldLeft(features)(_.andThen(_))
    val prefixes = Seq("from_json" -> parse, "features" -> features,
      "dedup" -> dedup)

    val dataFrame: Seq[(String, String => Any)] = prefixes.map {
      case (name, f) => name -> ((b: String) => f(Seq(b).toDF("value")).collect())
    } :+ ("to_json" -> ((b: String) => Metlink.featureCollection(
      Metlink.pipeline(Sources.jsonDocument(spark, b, Metlink.vehicleSchema),
        cfg)).as[String].head()))
    val prepared: Seq[(String, String => Any)] = prefixes.map {
      case (name, f) =>
        val p = new PreparedProjection(spark, f)
        name -> ((b: String) => p(spark, b))
    } :+ ("to_json" -> ((b: String) => Metlink.snapshot(spark, b, cfg)))

    val leaf = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("value", StringType))))
    val chain = dedup(leaf).queryExecution.optimizedPlan.collect {
      case p: Project => p }.size
    println(s"""{"prepared_projections_through_dedup":$chain}""")
    bodies.foreach(b => require(Metlink.snapshot(spark, b, cfg) ==
      dataFrame.last._2(b), "prepared and DataFrame forms differ"))
    for ((form, steps) <- Seq("dataframe" -> dataFrame, "prepared" -> prepared)) {
      var prior = 0.0
      for ((stage, run) <- steps) {
        (0 until warmup).foreach(i => run(bodies(i % bodies.size)))
        val ms = (0 until reps).map { i =>
          val t0 = System.nanoTime()
          run(bodies(i % bodies.size))
          (System.nanoTime() - t0) / 1e6
        }
        val cum = p50(ms)
        println(f"""{"form":"$form","stage":"$stage","entities":$entities,""" +
          f""""cpus":$cpus,"reps":$reps,"cum_p50_ms":$cum%.2f,""" +
          f""""stage_ms":${cum - prior}%.2f}""")
        prior = cum
      }
    }
    spark.stop()
  }
}
