package graftbench

import org.apache.spark.sql.{Row, SparkSession}

/** Outcome of one closed-loop operation.
  *
  * @param seconds  wall time of the timed calls (input generation and
  *                 output checks are outside it)
  * @param parts    wall time per op kind inside the op (e.g. `ann`)
  * @param facts    countable outputs of the op (bytes written, recall, …)
  * @param failures failed output checks, empty when the op was correct */
final case class Op(
    index: Int, traced: Boolean, seconds: Double,
    parts: Map[String, Double], facts: Map[String, Double], failures: Seq[String])

/** Workload-level end-to-end figures that are not latencies. */
final case class Summary(storeBytesPerRow: Double, quality: Double, record: Map[String, Any])

trait Workload {

  /** Set-up: generate the inputs and build the stores under `dir`. */
  def prepare(dir: String): Unit

  /** Warm-up after [[prepare]]: this many ops, with negative indices, so
    * the window measures warmed-up code. Part of set-up. */
  def warmUpOps: Int

  /** Runs op `i` (negative for warm-up), timing its calls through `t`'s
    * spans. */
  def op(i: Int, t: Tracer): Op

  def inputSizes: Map[String, Any]

  def summary(ops: Seq[Op]): Summary
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A canonical text form of a result value, shared by every output check:
    * doubles at 4 decimals (every checked double is rounded to 4 places
    * by the query or the generator), structs in braces, arrays in brackets. */
  def canon(v: Any): String = v match {
    case null                       => "null"
    case d: Double                  => "%.4f".formatLocal(java.util.Locale.ROOT, d)
    case f: Float                   => canon(f.toDouble)
    case d: java.math.BigDecimal    => d.toPlainString
    case r: Row                     => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other                      => other.toString
  }

  def rowCanon(r: Row): String = r.toSeq.map(canon).mkString("|")

  /** Total size and count of files ending in `suffix` under `dir`. */
  def filesUnder(dir: String, suffix: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var bytes = 0L
        var n = 0L
        s.filter(p => p.getFileName.toString.endsWith(suffix) && java.nio.file.Files.isRegularFile(p))
          .forEach { p => bytes += java.nio.file.Files.size(p); n += 1 }
        (bytes, n)
      } finally s.close()
    }
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  def session(nproc: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the UI is off: keep no job or query history, which would otherwise
      // grow the live heap with every op the window happens to fit
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // persisted stores and derived caches live in this run's directory
      .config("graft.index.root", s"$workDir/index")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
