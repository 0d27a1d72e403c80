package graftbench

import scala.collection.immutable.ListMap
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.io.OrcIO
import graft.typedef.InferOptions

/** Integer narrowing band: every value drawn in a band infers exactly the
  * band's type (values sit outside the next narrower band). */
final case class Band(sql: String, lo: Long, hi: Long) {
  def draw(r: Random): Long = {
    val mag = lo + (r.nextDouble() * (hi - lo)).toLong
    if (r.nextBoolean()) mag else -mag - 1
  }
}

object Band {
  val all = Seq(
    Band("tinyint", 0L, 127L),
    Band("smallint", 128L, 32767L),
    Band("int", 32768L, Int.MaxValue.toLong),
    Band("bigint", Int.MaxValue.toLong + 1, 1L << 50))
}

/** One generated batch: the rows, each row's expected read-back in
  * canonical form (NULL at planted cells), and the planted cell count. */
final case class IngestBatch(rows: Seq[Any], expected: Seq[String], planted: Int)

/** Seeded heterogeneous ingest batches: map rows with nested maps (which
  * infer as structs), arrays, integers in seed-drawn narrowing bands,
  * decimal and date strings, and planted malformed cells.
  *
  * A malformed cell is an empty array in a scalar slot. Inference treats it
  * as untyped (it carries no type, so the column type is unchanged) and the
  * lenient encoder writes it as NULL, so the read-back must hold NULL at
  * exactly the planted cells. */
final class IngestGen(seed: Long, val rowsPerBatch: Int, slices: Int) {
  // the seed shuffles one fixed multiset of bands over the scalar integer
  // columns, and the array column keeps one band, so bytes per row stay
  // comparable across seeds while the inferred schema still varies
  val bands: Map[String, Band] =
    (Seq("n1", "n2", "n3", "n4", "level", "v")
      .zip(new Random(seed).shuffle(Band.all ++ Band.all.take(2))) :+
      ("readings" -> Band.all(1))).toMap
  val malformedRate = 0.01

  /** The schema inference must produce, from the bands drawn above. */
  val predictedDdl: String =
    s"struct<id:bigint,n1:${bands("n1").sql},n2:${bands("n2").sql},n3:${bands("n3").sql}," +
      s"n4:${bands("n4").sql},price:decimal(7,2),day:date,score:double,name:string," +
      s"tags:array<string>,readings:array<${bands("readings").sql}>," +
      s"meta:struct<src:string,level:${bands("level").sql},geo:struct<lat:double,lon:double>>," +
      s"attrs:struct<k:string,v:${bands("v").sql}>>"

  /** Rows that start an inference slice stay clean: a row missing a field
    * would reorder the inferred struct, which is input-order dependent. */
  private def sliceStarts: Set[Int] =
    (0 until slices).map(i => ((i.toLong * rowsPerBatch) / slices).toInt).toSet

  def batch(b: Long): IngestBatch = {
    val r = new Random(seed * 1000003L + b)
    val clean = sliceStarts
    var planted = 0
    val out = (0 until rowsPerBatch).map { i =>
      val bad = !clean(i)
      // value and its canonical form; a planted cell is an empty array
      def cell(v: Any, c: String): (Any, String) =
        if (bad && r.nextDouble() < malformedRate) { planted += 1; (Seq.empty[Int], "null") }
        else (v, c)
      def int(band: String): (Any, String) = { val x = bands(band).draw(r); cell(x, x.toString) }
      def dbl(): (Any, String) = { val x = r.nextInt(2000000) / 10000.0 - 100; cell(x, Workload.canon(x)) }
      def word(): String = "w" + r.alphanumeric.filter(_.isLetter).take(1 + r.nextInt(6)).mkString
      val id = (1L << 40) + b * rowsPerBatch + i
      val n = Seq("n1", "n2", "n3", "n4").map(int)
      val cents = 1000000L + r.nextInt(9000000)
      val price = cell(f"${cents / 100}%d.${cents % 100}%02d", f"${cents / 100}%d.${cents % 100}%02d")
      val dayStr = java.time.LocalDate.ofEpochDay(10000L + r.nextInt(8000)).toString
      val day = cell(dayStr, dayStr)
      val score = dbl()
      val name = word()
      val tags = Seq.fill(1 + r.nextInt(3))(word())
      val readings = Seq.fill(1 + r.nextInt(4))(bands("readings").draw(r))
      val src = word()
      val level = int("level")
      val lat = dbl()
      val lon = r.nextInt(2000000) / 10000.0 - 100
      val k = word()
      val v = int("v")
      val row = ListMap[String, Any](
        "id" -> id, "n1" -> n(0)._1, "n2" -> n(1)._1, "n3" -> n(2)._1, "n4" -> n(3)._1,
        "price" -> price._1, "day" -> day._1, "score" -> score._1, "name" -> name,
        "tags" -> tags, "readings" -> readings,
        "meta" -> ListMap[String, Any]("src" -> src, "level" -> level._1,
          "geo" -> ListMap[String, Any]("lat" -> lat._1, "lon" -> lon)),
        "attrs" -> ListMap[String, Any]("k" -> k, "v" -> v._1))
      val canon = Seq(id.toString, n(0)._2, n(1)._2, n(2)._2, n(3)._2, price._2, day._2,
        score._2, name, tags.mkString("[", ",", "]"), readings.mkString("[", ",", "]"),
        s"{$src,${level._2},{${lat._2},${Workload.canon(lon)}}}", s"{$k,${v._2}}").mkString("|")
      (row, canon)
    }
    IngestBatch(out.map(_._1), out.map(_._2), planted)
  }
}

/** `ingest`: infer → lenient encode + ORC write → ORC read + checksum
  * aggregate, one fixed-size batch per op. */
final class Ingest(spark: SparkSession, seed: Long, nproc: Int) extends Workload {
  private val slices = nproc
  // a batch is as large as the repository's one registry call of
  // OrcIO.inferSchema reads: a7_infer over the sf0.1 documents table
  private val gen = new IngestGen(seed, rowsPerBatch = 5000, slices = slices)
  private val opts = InferOptions(coerceDateStrings = true, coerceDecimalStrings = true)
  private var dir = ""

  def prepare(d: String): Unit = {
    dir = d
    new java.io.File(dir).mkdirs()
  }

  def inputSizes: Map[String, Any] = Map(
    "rows_per_batch" -> gen.rowsPerBatch, "malformed_rate" -> gen.malformedRate,
    "bands" -> gen.bands.map { case (k, b) => k -> b.sql }, "inference_slices" -> slices)

  // after this many batches a batch is within about 15 % of its steady
  // latency; more would not fit the benchmark's time budget
  val warmUpOps = 10

  private def leafPaths(dt: DataType, prefix: String): Seq[String] = dt match {
    case s: StructType => s.fields.toSeq.flatMap(f => leafPaths(f.dataType, s"$prefix`${f.name}`."))
    case _: ArrayType  => Seq.empty // arrays carry no planted cells
    case _             => Seq(prefix.stripSuffix("."))
  }

  def op(i: Int, t: Tracer): Op = {
    val b = gen.batch(i.toLong)
    val path = s"$dir/batch-${if (i < 0) s"w${-i}" else i.toString}"
    val rdd = spark.sparkContext.parallelize(b.rows, slices)
    val ((schema, agg), seconds) = Workload.time {
      t.span("ingest.batch") {
        val schema = t.span("typedef.infer")(OrcIO.inferSchema(rdd, opts)).get
        t.span("io.write") {
          OrcIO.writeOrc(OrcIO.rowsToDF(spark, rdd, schema), path,
            OrcIO.WriteOptions(overwrite = true))
        }
        val agg = t.span("io.read") {
          val df = OrcIO.readOrc(spark, path)
          val nulls = leafPaths(df.schema, "").map(p => sum(when(col(p).isNull, 1L).otherwise(0L)))
          df.agg(count(lit(1)), nulls.reduce(_ + _)).collect()(0)
        }
        (schema, agg)
      }
    }
    // ---- output checks (untimed)
    val fails = Seq.newBuilder[String]
    val ddl = schema.catalogString
    if (ddl != gen.predictedDdl) fails += s"batch $i: inferred $ddl, predicted ${gen.predictedDdl}"
    val (rows, nulls) = (agg.getLong(0), agg.getLong(1))
    if (rows != b.rows.size) fails += s"batch $i: read back $rows rows, wrote ${b.rows.size}"
    if (nulls != b.planted) fails += s"batch $i: $nulls NULL cells, planted ${b.planted}"
    val got = OrcIO.readOrc(spark, path).collect().toSeq.map(Workload.rowCanon).sortBy(_.takeWhile(_ != '|').toLong)
    val want = b.expected
    if (got != want) {
      val firstBad = got.zipAll(want, "<none>", "<none>").find { case (g, w) => g != w }
      fails += s"batch $i: read-back differs from the generated rows, first: ${firstBad.getOrElse("")}"
    }
    val (bytes, _) = Workload.filesUnder(path, ".orc")
    Workload.deleteRecursively(new java.io.File(path))
    Op(i, t.on, seconds, Map("batch" -> seconds),
      Map("rows" -> b.rows.size.toDouble, "bytes_written" -> bytes.toDouble,
        "null_cells" -> nulls.toDouble, "result_rows" -> 1.0),
      fails.result())
  }

  def summary(ops: Seq[Op]): Summary = {
    val prefix = Main.countPrefix(ops)
    val rows = prefix.map(_.facts("rows")).sum
    val bytes = prefix.map(_.facts("bytes_written")).sum
    val allRows = ops.map(_.facts("rows")).sum
    Summary(
      storeBytesPerRow = if (rows > 0) bytes / rows else 0.0,
      // exact answers: any mismatch fails its op, so a correct run scores 1
      quality = 1.0,
      record = Map(
        "rows_per_s" -> (if (ops.isEmpty) 0.0 else allRows / ops.map(_.seconds).sum),
        "bytes_per_row" -> (if (rows > 0) bytes / rows else 0.0),
        "predicted_ddl" -> gen.predictedDdl))
  }
}
