package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed Dataset view of the engine's tables (SURVEY.md §1.2: the
  * case-class API boundary mirroring the reference's typed
  * `VehicleData` interface). The untyped DataFrame path stays the
  * workhorse; these encoders give compile-time safety where callers
  * want it, at zero plan cost (same columnar scans underneath).
  */
object Model {
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String,
      n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String,
      c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String,
      s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String,
      p_brand: String, p_type: String, p_size: Int,
      p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double,
      o_orderdate: Timestamp, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String,
      l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float],
      label: Int)

  def regions(s: SparkSession, d: String): Dataset[Region] =
    { import s.implicits._; Tables.region(s, d).as[Region] }
  def nations(s: SparkSession, d: String): Dataset[Nation] =
    { import s.implicits._; Tables.nation(s, d).as[Nation] }
  def customers(s: SparkSession, d: String): Dataset[Customer] =
    { import s.implicits._; Tables.customer(s, d).as[Customer] }
  def suppliers(s: SparkSession, d: String): Dataset[Supplier] =
    { import s.implicits._; Tables.supplier(s, d).as[Supplier] }
  def parts(s: SparkSession, d: String): Dataset[Part] =
    { import s.implicits._; Tables.part(s, d).as[Part] }
  def orders(s: SparkSession, d: String): Dataset[Order] =
    { import s.implicits._; Tables.orders(s, d).as[Order] }
  def lineitems(s: SparkSession, d: String): Dataset[Lineitem] =
    { import s.implicits._; Tables.lineitem(s, d).as[Lineitem] }
  def events(s: SparkSession, d: String): Dataset[Event] =
    { import s.implicits._; Tables.events(s, d).as[Event] }
  def documents(s: SparkSession, d: String): Dataset[Document] =
    { import s.implicits._; Tables.documents(s, d).as[Document] }
  def embeddings(s: SparkSession, d: String): Dataset[Embedding] =
    { import s.implicits._; Tables.embeddings(s, d).as[Embedding] }

  /** Register `tables` of a scale-factor directory as temp views so
    * the SQL front-end (`spark.sql`, including `vec_dot` from
    * GraftExtensions) reads them. Only the named tables are loaded:
    * each load lists the table's files and analyzes a DataFrame. */
  def registerViews(s: SparkSession, d: String, table: String,
      more: String*): Unit =
    (table +: more).foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
}
