package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.util.functional.RemoteIterators
import scala.jdk.CollectionConverters._
import scala.util.chaining._

/** Canonical loaders for the driver testdata tables.
  *
  * Normalizations applied once here so every operator sees clean types:
  *  - `timestamp_ntz` parquet columns → session-TZ (UTC) `timestamp`, so
  *    date functions and the DuckDB oracle agree.
  *  - `events.ts` has shipped as TIMESTAMP(NANOS) (which Spark only
  *    reads as a long via spark.sql.legacy.parquet.nanosAsLong=true)
  *    in some testdata generations and TIMESTAMP(MICROS) in others, so
  *    the loader dispatches on the read schema: nanos-as-long converts
  *    with integer `div` (never `/`, which goes through double and
  *    loses precision above 2^53); micros just re-types NTZ → session
  *    TZ. DuckDB truncates/reads to microseconds identically.
  *
  * Each load is a fresh lazy scan; building it reads driver-side
  * metadata only: the file listing, and Spark's footer-inference job
  * when the per-path schema cache (keyed on listing + SQL confs) misses. */
object Tables {
  /** Session settings every graft SparkSession needs. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    // Storage hygiene for long sessions (r16): localCheckpoint blocks,
    // broadcast pieces and shuffle state are only released when the
    // ContextCleaner processes the owning object's weak reference —
    // which needs a GC to run. A large-heap driver that executes
    // hundreds of short queries (the bench, any interactive session)
    // can go many minutes without an old-gen collection, so dead
    // checkpoint/broadcast blocks pile up in the block manager and
    // execution memory pays eviction storms when a heavy query
    // arrives (measured: driver r15 bench hit 57 s on a 3 s query
    // mid-suite with load 2.7 — stalled, not computing). The default
    // periodicGC interval is 30 MINUTES — longer than the whole run.
    // 90 s bounds the dead-block backlog; with
    // -XX:+ExplicitGCInvokesConcurrent (build.sbt / spark-submit
    // --conf spark.driver.extraJavaOptions) the trigger is a cheap
    // concurrent cycle, not a stop-the-world full GC.
    .config("spark.cleaner.periodicGC.interval", "90s")
    // Generated-code cache sized to graft's working set. Spark's
    // default keeps 100 compiled classes in an LRU cache, and a cyclic
    // working set larger than an LRU cache misses on every access: each
    // pass over the registry would re-run Janino (and re-warm the JIT)
    // for nearly every class. Census (CodegenCensus, local[4],
    // CODEGEN_r10.json): at cap 100, two sf0.001 registry passes
    // compile 6861 then 6786 classes. Uncapped, Bench's shape (sf0.001
    // warm-up, then two sf0.1 passes, one JVM) compiles 4299, then 299,
    // then 81: 4679 live entries, and only the 80-150 per pass from
    // queries whose source differs run to run keep arriving. 8192
    // leaves headroom for a session's own queries and for the cache's
    // 4 segments, each capped at a quarter; a full registry pass costs
    // about 40 MB more metaspace than at cap 100.
    // The conf is static and JVM-global: CodeGenerator reads it once,
    // at the JVM's first code generation, so it takes effect only if
    // this builder creates the JVM's first session.
    .config("spark.sql.codegen.cache.maxEntries", "8192")

  /** Decouple CPU parallelism from scan splits: a NARROW source (a
    * single-row-group parquet file reads as ONE task regardless of
    * cores) serializes every per-row-expensive expression downstream
    * of it — shingle construction, decimal-exact aggregation, vector
    * math. Fan such sources out to the session default parallelism
    * first; identity when the input is already wide — which a 100 TB
    * table always is (thousands of row-group splits), so at scale
    * this never moves a byte. Call it AFTER filter + projection so
    * the local shuffle carries only the columns the consumer needs.
    *
    * Width is estimated from the FILE INDEX on the (eagerly-built)
    * analyzed plan — Spark's own open-cost split packing over file
    * count and total bytes — never from `df.rdd`, which forces a
    * full physical planning pass outside the AQE-managed path on
    * every call. Non-file sources (in-memory test frames) carry no
    * width signal and pass through untouched.
    *
    * Width is additionally bounded by input SIZE (r16): a fan target
    * of `defaultParallelism` is only right when every task gets a
    * meaningful slice of input. On a tiny source (the sf0.1 bench
    * corpus is ~0.6 MB) repartitioning to 32 puts ~20 KB per task —
    * 32 concurrent explode/hash-agg states in one fixed local heap
    * for no compute worth spreading, the exact shape behind the r15
    * driver-bench q136/q219 32-core pathology. Each fanned task must
    * carry at least `spark.graft.fanout.minBytesPerTask` (default
    * 64 KB of source bytes ≈ a few hundred KB of decoded text);
    * above `cores × minBytesPerTask` of input — always, at any real
    * scale — the bound is inert and the target is the full session
    * parallelism.
    *
    * @param hintSplits caller-known effective source parallelism
    *        (e.g. a custom source's partition count); skips the
    *        file-index estimate entirely. */
  def fanOut(df: DataFrame, hintSplits: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val minTaskBytes = spark.conf
      .getOption("spark.graft.fanout.minBytesPerTask")
      .map(v => v.trim.toLongOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          "spark.graft.fanout.minBytesPerTask must be an integer >= 1, " +
            s"got '$v'"))).getOrElse(65536L)
    // (effective source splits, byte-budget task bound); a hint
    // carries no byte signal — the caller asserts the width, so only
    // the parallelism ceiling applies to it
    val est: Option[(Long, Long)] =
      hintSplits.map(n => (n.toLong, Long.MaxValue)).orElse {
      val splitBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val perScan = df.queryExecution.analyzed.collectLeaves().flatMap {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              val files = fs.location.inputFiles.length.toLong
              val bytes = fs.location.sizeInBytes
              // effective scan tasks ≈ Spark's own split packing:
              // each file is charged openCostInBytes, splits close at
              // maxPartitionBytes — so MANY SMALL FILES pack into few
              // tasks (r16: 100 × 0.4 MB files = ~4 tasks, not 100;
              // the old max(files, bytes/split) estimate read that
              // source as 100-wide and skipped the fan).
              val est = math.max(1L,
                (bytes + files * openCost + splitBytes - 1)
                  / splitBytes)
              Some((est, bytes))
            case _ => None
          }
        case _ => None
      }
      if (perScan.isEmpty) None
      else Some((perScan.map(_._1).sum,
        math.max(1L, (perScan.map(_._2).sum + minTaskBytes - 1)
          / minTaskBytes)))
    }
    val cores = spark.sparkContext.defaultParallelism.toLong
    est match {
      case Some((splits, byTaskBudget))
          if splits < math.min(cores, byTaskBudget) =>
        df.repartition(math.min(cores, byTaskBudget).toInt)
      case _ => df
    }
  }

  /** Sorted recursive (path, len, mtime) leaf listing; "" if absent. */
  private[graft] def listingFingerprint(spark: SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) ""
    else RemoteIterators.toList(fs.listFiles(p, true)).asScala
      .map(s => s"${s.getPath}|${s.getLen}|${s.getModificationTime}")
      .sorted.mkString("\n")
  }

  // path -> ((listing fingerprint, SQL confs), inferred schema)
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, ((String, Map[String, String]), StructType)]()
  private[graft] def cachedSchemaPaths = schemas.keySet.asScala.toSet

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (listingFingerprint(spark, path), spark.conf.getAll)
    val raw = Option(schemas.get(path)).filter(_._1 == key) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
        .tap(df => schemas.put(path, (key, df.schema)))
    }
    normalize(name, raw)
  }

  /** The per-table normalizations above, over a raw parquet read. */
  private[graft] def normalize(name: String, raw: DataFrame): DataFrame =
    name match {
      case "events" =>
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ =>
            raw.withColumn("ts", col("ts").cast("timestamp"))
        }
      case "orders" =>
        raw.withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      case "lineitem" =>
        raw.withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      case _ => raw
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** One verifiable engine capability: a DataFrame builder plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  * `oracle=None` → the driver records a weaker rows-only check.
  */
final case class Qry(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
