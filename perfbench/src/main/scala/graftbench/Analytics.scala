package graftbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** `analytics`: one op is one round of the five headline registry keys over
  * the fixture, in a seeded order. Each key is split into construct (the
  * registry call), plan (forcing the executed plan) and exec (collecting
  * the result, which every key keeps to a few rows). */
final class Analytics(spark: SparkSession, seed: Long, oracle: Map[String, Seq[String]],
    dir: String) extends Workload {

  /** Set-up opens the fixture's tables. */
  def prepare(d: String): Unit =
    Fixture.rows.keys.foreach(t => graft.ops.Relational.table(spark, dir, t).schema)

  def inputSizes: Map[String, Any] = Map("fixture_rows" -> Fixture.rows, "keys" -> Analytics.keys)

  // rounds keep getting faster for about three rounds (JIT of the five
  // keys' generated code); after three they are within a few per cent
  val warmUpOps = 3

  def op(i: Int, t: Tracer): Op = {
    val order = new Random(seed * 7919L + i).shuffle(Analytics.keys)
    val fails = Seq.newBuilder[String]
    var resultRows = 0L
    val parts = order.map { key =>
      val fn = graft.SparkEntry.queries(key)
      val (rows, s) = Workload.time {
        t.span(s"relational.$key") {
          val df = t.span(s"relational.$key.construct")(fn(spark, dir))
          t.span(s"relational.$key.plan")(df.queryExecution.executedPlan)
          t.span(s"relational.$key.exec")(df.collect())
        }
      }
      resultRows += rows.length
      val got = rows.toSeq.map(Workload.rowCanon)
      if (got != oracle(key))
        fails += s"round $i: $key returned ${got.take(3).mkString("; ")}… (${got.size} rows), " +
          s"oracle ${oracle(key).take(3).mkString("; ")}… (${oracle(key).size} rows)"
      key -> s
    }.toMap
    // a2_roundtrip's ORC output is the one thing this workload writes
    val a2Dir = s"${System.getProperty("java.io.tmpdir")}/graft_a2_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val (bytes, _) = Workload.filesUnder(a2Dir, ".orc")
    Op(i, t.on, parts.values.sum, parts,
      Map("bytes_written" -> bytes.toDouble, "result_rows" -> resultRows.toDouble,
        "rows" -> Fixture.rows("lineitem").toDouble),
      fails.result())
  }

  def summary(ops: Seq[Op]): Summary = {
    val prefix = Main.countPrefix(ops)
    val bytes = if (prefix.isEmpty) 0.0 else Stats.median(prefix.map(_.facts("bytes_written")))
    Summary(
      storeBytesPerRow = bytes / Fixture.rows("lineitem"),
      // exact answers: any mismatch fails its op, so a correct run scores 1
      quality = 1.0,
      record = Map("key_s_p50" -> Analytics.keys.map(k =>
        k -> (if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.parts(k))))).toMap))
  }
}

object Analytics {
  val keys = Seq("b3_agg_group", "b5_join_multi", "b8_topk", "a2_roundtrip", "c3_sim_topk")

  /** The stored DuckDB answers: `key<TAB>row` lines, rows in result order. */
  def loadOracle(path: String): Map[String, Seq[String]] = {
    val lines = scala.io.Source.fromFile(path, "UTF-8")
    try lines.getLines().filterNot(l => l.startsWith("#") || l.isEmpty).toSeq
      .map { l => val Array(k, r) = l.split("\t", 2); k -> r }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    finally lines.close()
  }
}
