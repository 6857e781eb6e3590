package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Catalog

/** Typed readers for the driver-generated testdata tables.
  *
  * Mirrors the catalog-table surface of the reference (Pserv's
  * Object/ForcedSource/CcdVisit tables, `python/desc/pserv` ingest
  * path) over the harness's TPC-H-ish parquet. Every accessor reads
  * through [[Catalog.readParquet]], the single reader of the catalog
  * tables: the declared schema means building a frame starts no Spark
  * job, and `events.ts` arrives as BIGINT epoch nanoseconds. Column
  * pruning + predicate pushdown happen at the parquet scan because
  * every query selects explicitly from these raw reads.
  */
object Tables {
  /** Table `name` of the catalog directory `dir`. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    Catalog.readParquet(spark, name, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
