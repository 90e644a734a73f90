package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Model, Qry, Tables}
import Q._

/** Subquery surface (EXISTS / IN / scalar — Catalyst decorrelates
  * into semi/anti joins and cross-join-free scalar plans) and text
  * normalization (the cleaning pass every LLM corpus needs before
  * dedup/quality scoring).
  */
object Subqueries {

  /** Correlated EXISTS + uncorrelated IN + scalar subquery in one
    * statement — Catalyst turns these into joins; no per-row
    * re-execution. */
  val q55 = Qry(
    "q55_subqueries",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "customer", "orders", "nation")
      s.sql("""
        SELECT c_mktsegment,
               COUNT(*) AS n_active,
               CAST(SUM(CASE WHEN c_acctbal >
                 (SELECT AVG(c_acctbal) FROM customer)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
          AND c_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_regionkey <= 2)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")
    },
    Some("""
      SELECT c_mktsegment,
             COUNT(*) AS n_active,
             CAST(SUM(CASE WHEN c_acctbal >
               (SELECT AVG(c_acctbal) FROM customer)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'F')
        AND c_nationkey IN (SELECT n_nationkey FROM nation
                            WHERE n_regionkey <= 2)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** Text normalization pass: lowercase, strip digits, squeeze
    * whitespace, trim — then re-fingerprint. The cleaning stage that
    * precedes exact/near dedup in a corpus pipeline. */
  val q56 = Qry(
    "q56_text_normalize",
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 150)
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[0-9]+", ""),
            "\\s+", " ")).as("clean"))
        .select(col("doc_id"),
          length(col("clean")).as("clean_len"),
          md5(col("clean")).as("clean_md5"),
          size(split(col("clean"), " ")).as("clean_tokens"))
        .orderBy(col("doc_id")),
    Some("""
      WITH cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(
                 regexp_replace(lower(text), '[0-9]+', '', 'g'),
                 '\s+', ' ', 'g')) AS clean
        FROM documents WHERE doc_id < 150)
      SELECT doc_id,
             length(clean) AS clean_len,
             md5(clean) AS clean_md5,
             len(string_split(clean, ' ')) AS clean_tokens
      FROM cleaned ORDER BY doc_id"""))

  val all: Seq[Qry] = Seq(q55, q56)
}
