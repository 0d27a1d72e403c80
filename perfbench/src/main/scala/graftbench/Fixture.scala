package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The read-only analytics fixture: the sf0.1 shapes of the tables the
  * headline keys read (region 5, nation 25, customer 15 000, orders
  * 150 000, lineitem 600 000, embeddings 2 000 × 64), one parquet file and
  * one row group per table. Every column is a fixed hash of the row id, so
  * the fixture — and the stored DuckDB answers for it — never change. */
object Fixture {
  val rows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "orders" -> 150000L,
    "lineitem" -> 600000L, "embeddings" -> 2000L)

  private def u(salt: Int, n: Long): Column = pmod(xxhash64(col("id"), lit(salt)), lit(n))
  private def pick(salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (u(salt, xs.size.toLong) + 1).cast("int"))
  private def day(salt: Int): Column =
    timestamp_seconds(lit(788918400L) + u(salt, 2500L) * 86400L) // from 1995-01-01

  def write(spark: SparkSession, dir: String): Unit = {
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def ids(name: String): DataFrame = spark.range(rows(name)).toDF()
    save("region", ids("region").select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    save("nation", ids("nation").select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", ids("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      ((u(2, 1099999L) - 99999L) / 100.0).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    save("orders", ids("orders").select(col("id").as("o_orderkey"),
      u(4, 15000L).as("o_custkey"), pick(5, "F", "O", "P").as("o_orderstatus"),
      ((u(6, 49900000L) + 100000L) / 100.0).as("o_totalprice"), day(7).as("o_orderdate"),
      pick(8, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")))
    save("lineitem", ids("lineitem").select(u(9, 150000L).as("l_orderkey"),
      u(10, 20000L).as("l_partkey"), u(11, 1000L).as("l_suppkey"),
      (u(12, 7L) + 1).cast("int").as("l_linenumber"),
      (u(13, 50L) + 1).cast("double").as("l_quantity"),
      ((u(14, 10410000L) + 90000L) / 100.0).as("l_extendedprice"),
      (u(15, 11L) / 100.0).as("l_discount"), (u(16, 9L) / 100.0).as("l_tax"),
      pick(17, "A", "N", "R").as("l_returnflag"), pick(18, "F", "O").as("l_linestatus"),
      day(19).as("l_shipdate")))
    save("embeddings", ids("embeddings").select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "cast((pmod(xxhash64(id, i, 20), 2000001) - 1000000) / 4000000.0 as float))").as("embedding"),
      u(21, 10L).cast("int").as("label")))
  }

  /** Writes the fixture to `dir` unless an earlier run of the checkout did;
    * returns the seconds spent writing (0 when it was there). Called
    * before set-up is timed, like the build. */
  def ensure(spark: SparkSession, dir: String): Double =
    if (new java.io.File(dir, "_COMPLETE").exists) 0.0
    else {
      val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
      val (_, s) = Workload.time(write(spark, tmp))
      new java.io.File(tmp, "_COMPLETE").createNewFile()
      new java.io.File(tmp).renameTo(new java.io.File(dir))
      s
    }
}
