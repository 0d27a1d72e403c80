package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The filtered ANN probes' probe-widening selectivity comes from the
  * round-14 one-pass aggregate. This test pins its value: exactly the
  * aggregate fraction. */
class CatalogSelectivitySpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def aggregateFraction(): Double = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = docs.agg(count(lit(1)).as("n"),
      count(when(col("lang") === "en", 1)).as("k")).head()
    r.getLong(1).toDouble / r.getLong(0)
  }

  test("fallback (no catalog stats) selectivity equals the one-pass aggregate fraction") {
    val docs = Relational.table(spark, dir, "documents")
    // plain parquet relation with no CBO row count: the helper's one
    // aggregate must reproduce the exact fraction
    assert(docs.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    val sel = Similarity.filterSelectivity(docs, col("lang") === "en")
    assert(math.abs(sel - aggregateFraction()) < 1e-12,
      s"fallback selectivity $sel != aggregate fraction ${aggregateFraction()}")
  }
}
