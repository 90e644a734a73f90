package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (not library surface): amplify the driver's sf0.1 testdata
  * to larger scale factors for throughput validation — the "100 TB
  * story" claims in operator scaladocs are plan arguments until
  * something has actually executed above ~600k rows.
  *
  * Semantics of the amplification (correctness still gates on the
  * DRIVER's data at sf0.01 — this data is for perf only):
  *  - Dimensions (region/nation/customer/supplier/part) copy as-is:
  *    the scale-up models "N× more transactions over the same
  *    catalog", which keeps every fact→dim foreign key valid and
  *    keeps dim joins broadcastable — exactly the at-scale shape.
  *  - Facts (orders/lineitem/events) replicate `mult`× with replica-
  *    offset primary keys (order/event ids); fks to dims unchanged.
  *  - documents replicate with offset doc_ids; each replica's text is
  *    a deterministic per-doc TOKEN SHUFFLE (sort tokens by
  *    xxhash64(token, doc_id, replica)) — token multiset, length and
  *    lang statistics are preserved (quality/zipf/langid workloads
  *    unchanged) while shingle sets diverge, so near-dup/LSH
  *    workloads grow LINEARLY instead of manufacturing 10-cliques of
  *    exact copies (Σ|bucket|² must scale like a real corpus, not
  *    like a pathological one).
  *  - embeddings replicate with offset vec_ids; each replica's vector
  *    is ROTATED by the replica index — norm-preserving, so cosine
  *    workloads see new points, not coincident duplicates.
  *  - Bounded-subset query inputs (doc_id < 150 etc.) stay constant
  *    by construction: replica offsets start at 10M, so bounded
  *    correctness fixtures read only replica 0 while full scans see
  *    the whole corpus.
  *
  * Usage: Test/runMain graft.ScaleUp [srcDir] [dstDir] [mult] [tables]
  *          [mode]
  * `tables` (optional, comma-separated) restricts generation to a
  * subset — e.g. only the facts a targeted scale bench reads — so a
  * 1000× run doesn't pay for tables no measured query touches.
  *
  * `mode` (optional):
  *  - `densify` (default): replica baskets draw from the ORIGINAL
  *    part catalog — per-part co-purchase degree grows ~mult×, so
  *    Σdeg² work grows ~mult², a deliberate densification STRESS leg
  *    for the link-prediction family (q220/q223/q254). Useful, but
  *    its sf-ladder ratios measure the fixture, not the engine.
  *  - `constparts`: replica baskets draw from a REPLICA part space
  *    (l_partkey offset per replica; the part dim replicates with
  *    matching keys, modeling a catalog that grows with volume).
  *    Per-part co-purchase degree stays constant, so a mult× run
  *    must cost ~mult× on a linear engine — the ladder that isolates
  *    the engine exponent (matching GraphScale's constant-density
  *    generator, but over the real fixture tables). The same
  *    constant-density contract extends to the non-basket facts:
  *    events replicate into a REPLICA user space (user_id strided,
  *    so per-user activity — the unit every sessionize/funnel/
  *    attribution pairing is quadratic in — stays constant), and
  *    each document replica's tokens carry a replica tag (vocab
  *    grows with the corpus, so shingle document-frequency — the
  *    unit set-similarity candidate generation is quadratic in —
  *    stays constant). Under densify those two stay fixed-universe
  *    by design: 100× events over 1,500 users or 100× docs over one
  *    vocabulary measure the fixture's densification, not the
  *    engine.
  *
  * Embedding replicas are rotations of the source vectors; once the
  * replica index reaches the vector dimension the rotation cycles, so
  * replicas i and i+dim would be coincident duplicates — replicas
  * past the first cycle are additionally negated (norm- and
  * pairwise-angle-preserving), keeping all replicas distinct up to
  * mult = 2·dim (guarded).
  */
object ScaleUp {
  private val KeyOff = 100000000L // fact-key replica stride
  private val DocOff = 10000000L  // doc/vec replica stride
  private val PartOff = 10000000L // part-key replica stride (constparts)
  private val UserOff = 1000000L  // events.user_id replica stride (constparts)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("scaledata/sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val Known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      "embeddings_planted")
    val onlyTables = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val mode = args.lift(4).getOrElse("densify")
    require(mode == "densify" || mode == "constparts",
      s"ScaleUp: unknown mode '$mode' (densify | constparts)")
    // a typo'd table name silently generating NOTHING would hand a
    // targeted scale bench a stale or absent table — fail at launch
    onlyTables.foreach { ts =>
      val unknown = ts -- Known
      require(unknown.isEmpty, s"ScaleUp: unknown table(s) " +
        s"${unknown.mkString(", ")} — known: " +
        Known.toSeq.sorted.mkString(", "))
    }
    def want(t: String): Boolean = onlyTables.forall(_.contains(t))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // read RAW (no Tables.load normalization) so written schemas stay
    // byte-compatible with what Tables.load expects (events.ts stays
    // the nanos long it is in the driver parquet)
    def raw(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name -> $dst ($mult x)")
    }
    def replicate(name: String, perReplica: (DataFrame, Int) => DataFrame)
        : Unit = if (want(name)) {
      val base = raw(name)
      write(name, (0 until mult).map(i => perReplica(base, i))
        .reduce(_ unionAll _))
    }
    // Replica key spaces are built by STRIDING the source keys by a
    // fixed offset per replica. A source fixture whose keys already
    // reach the stride (e.g. TPC-H part keys hit 10M at sf>=50) would
    // silently collide replica key spaces — constparts' constant-
    // degree property would quietly densify instead of failing. Guard
    // every strided key against its offset before writing anything.
    def guardStride(name: String, keyCol: String, off: Long): Unit =
      if (want(name)) {
        val mx = raw(name).agg(max(col(keyCol).cast("long"))).head.getLong(0)
        require(mx < off, s"ScaleUp: max($name.$keyCol)=$mx >= replica " +
          s"stride $off — replica key spaces would collide; raise the " +
          "stride before replicating this fixture")
      }
    guardStride("orders", "o_orderkey", KeyOff)
    guardStride("lineitem", "l_orderkey", KeyOff)
    guardStride("events", "event_id", KeyOff)
    guardStride("documents", "doc_id", DocOff)
    guardStride("embeddings", "vec_id", DocOff)
    if (mode == "constparts") {
      guardStride("part", "p_partkey", PartOff)
      guardStride("lineitem", "l_partkey", PartOff)
      guardStride("events", "user_id", UserOff)
    }

    Seq("region", "nation", "customer", "supplier")
      .filter(want).foreach(t => write(t, raw(t)))
    if (mode == "constparts")
      replicate("part", (df, i) =>
        df.withColumn("p_partkey", col("p_partkey") + lit(i * PartOff)))
    else if (want("part")) write("part", raw("part"))

    replicate("orders", (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOff)))
    replicate("lineitem", (df, i) => {
      val keyed =
        df.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOff))
      if (mode == "constparts")
        keyed.withColumn("l_partkey",
          col("l_partkey") + lit(i * PartOff))
      else keyed
    })
    replicate("events", (df, i) => {
      val keyed =
        df.withColumn("event_id", col("event_id") + lit(i * KeyOff))
      if (mode == "constparts")
        keyed.withColumn("user_id", col("user_id") + lit(i * UserOff))
      else keyed
    })

    replicate("documents", (df, i) =>
      if (i == 0) df
      else if (mode == "constparts")
        // replica-tagged vocabulary: every replica's tokens are
        // disjoint from every other replica's, so shingle df — and
        // with it set-sim candidate counts — grow linearly with the
        // corpus (length/zipf SHAPE preserved; the tag suffix shifts
        // absolute char counts, acceptable on the perf ladder)
        df.withColumn("doc_id", col("doc_id") + lit(i * DocOff))
          .withColumn("text", array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit(s"~$i"))),
            " "))
      else df
        .withColumn("doc_id", col("doc_id") + lit(i * DocOff))
        .withColumn("text", array_join(
          transform(
            array_sort(transform(split(col("text"), " "), t =>
              struct(xxhash64(t, col("doc_id"), lit(i)).as("h"),
                t.as("t")))),
            s => s("t")),
          " ")))

    // embeddings_planted is GENERATED, not replicated: the planted-
    // neighborhood ANN fixture ([[graft.operators.Planted]]) at
    // scale — 1000 well-separated clusters whose membership is the
    // provable ground truth recall is measured against (the driver's
    // near-random embeddings cap recall@10 at ~0.3 regardless of
    // index quality). Only written when explicitly requested in the
    // tables arg, so existing replication runs are byte-identical.
    if (onlyTables.exists(_.contains("embeddings_planted")))
      write("embeddings_planted",
        operators.Planted.vectors(spark, nClusters = 1000,
          perCluster = 100 * mult, dim = 64))

    if (want("embeddings")) {
      val dim = raw("embeddings")
        .agg(max(size(col("embedding")))).head.getInt(0)
      require(mult <= 2 * dim, s"ScaleUp: mult=$mult exceeds 2*dim=" +
        s"${2 * dim} — rotation+negation can no longer keep embedding " +
        "replicas distinct; coincident duplicates would corrupt " +
        "near-dup/ANN ladders")
    }
    replicate("embeddings", (df, i) =>
      if (i == 0) df
      else {
        // rotate by i mod dim; past the first full rotation cycle the
        // replica repeats an earlier rotation, so negate it (distinct,
        // norm-preserving) — guarded to mult <= 2*dim above
        val rot = pmod(lit(i), size(col("embedding")))
        val rotated = concat(
          slice(col("embedding"), rot + lit(1),
            size(col("embedding")) - rot),
          slice(col("embedding"), lit(1), rot))
        df.withColumn("vec_id", col("vec_id") + lit(i * DocOff))
          .withColumn("embedding",
            when(lit(i) < size(col("embedding")), rotated)
              .otherwise(transform(rotated, x => -x)))
      })

    spark.stop()
  }
}
