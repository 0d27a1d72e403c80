package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (one workload, one fresh JVM).
  *
  * {{{
  * graftbench.Main --workload <ingest|analytics|retrieval> --seed N
  *   --seconds S --trace 0|1 --work DIR --oracle FILE --nproc N
  *   --fixture DIR [--commit C] [--load1 L] [--heap H]
  * graftbench.Main --dump-oracle FIXTURE_DIR SQL_JSON
  * }}}
  *
  * Prints one line `GRAFTBENCH <json>` on stdout with the result and the
  * run record; perfbench/run.py turns it into the benchmark's output. */
object Main {

  /** Count metrics come from the first ops of the run only, so they are a
    * function of the seed and not of how many ops fit into the window. */
  val CountPrefix = 1

  def countPrefix(ops: Seq[Op]): Seq[Op] = ops.take(CountPrefix)

  /** A run makes at least this many ops, even when one op outlasts the
    * window: one untraced and one traced op in a traced run. */
  val MinOps = 2

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit =
    if (argv.headOption.contains("--dump-oracle")) dumpOracle(argv(1), argv(2))
    else run(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  /** Writes the analytics fixture and the five keys' oracle SQL for
    * perfbench/make_oracle.py. */
  private def dumpOracle(fixtureDir: String, sqlOut: String): Unit = {
    val work = new java.io.File(new java.io.File(fixtureDir).getAbsoluteFile.getParentFile, "work")
    new java.io.File(work, "spark-local").mkdirs()
    val spark = Workload.session(2, work.getPath)
    Fixture.write(spark, fixtureDir)
    val sql = Analytics.keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
    json.writeValue(new java.io.File(sqlOut), sql)
    spark.stop()
  }

  private def peakRssMb(): Option[Double] = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      finally src.close()
    }
  }

  /** Heap still in use after a full collection: what the workload keeps
    * alive (caches, pinned blocks, driver-side state). Steadier than peak
    * RSS, which depends on when the collector chose to grow the heap. */
  private def heapLiveMb(): Seq[Double] = {
    def collect(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    // each collection lets Spark's ContextCleaner drop the blocks of the
    // broadcasts, shuffles and checkpoints it found unreferenced, which the
    // next one frees; collect until the heap stops shrinking
    val seen = mutable.ArrayBuffer(collect())
    while (seen.size < 8 && (seen.size < 2 || seen(seen.size - 2) - seen.last > 1.0)) {
      Thread.sleep(500)
      seen += collect()
    }
    seen.toSeq
  }

  /** The harness's own job counter must see exactly the one collect job of
    * OrcIO.inferSchema. */
  private def jobCountSelfTest(spark: SparkSession, tracer: Tracer): Seq[String] = {
    val rows = spark.sparkContext.parallelize(Seq[Any](Map("a" -> 1), Map("a" -> 300, "b" -> "x")), 2)
    tracer.on = true
    tracer.op = -100
    try tracer.span("selftest.infer")(graft.io.OrcIO.inferSchema(rows))
    finally tracer.on = false
    val jobs = tracer.spansOf(-100).map(_.counters.jobs).sum
    if (jobs == 1) Nil else Seq(s"job-count self-test: OrcIO.inferSchema counted $jobs jobs, want 1")
  }

  private def run(a: Map[String, String]): Unit = {
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val nproc = a("nproc").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = Workload.session(nproc, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext
    val probe = new Probe(sc)
    sc.addSparkListener(probe)
    val tracer = new Tracer(sc, probe)
    val selfTest = Stats.selfTest() ++ jobCountSelfTest(spark, tracer)

    var fixtureWriteS = 0.0
    val workload: Workload = workloadName match {
      case "ingest"    => new Ingest(spark, seed, nproc)
      case "analytics" =>
        fixtureWriteS = Fixture.ensure(spark, a("fixture"))
        new Analytics(spark, seed, Analytics.loadOracle(a("oracle")), a("fixture"))
      case "retrieval" => new Retrieval(spark, seed)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (_, prepareS) = Workload.time(workload.prepare(s"$work/data"))
    val (warmUp, warmUpS) = Workload.time((1 to workload.warmUpOps).map(w => workload.op(-w, tracer)))
    val warmUpFailures = warmUp.flatMap(_.failures)
    val setupS = sessionS + prepareS + warmUpS
    if (!traced) sc.removeSparkListener(probe)

    // ---- the closed loop: one client, the next op starts when the last returns
    val ops = mutable.ArrayBuffer.empty[Op]
    val errors = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < MinOps) {
      // a traced run alternates traced and untraced ops, so tracing
      // overhead is measured on the same store state and box load
      tracer.on = traced && i % 2 == 0
      tracer.op = i
      try ops += workload.op(i, tracer)
      catch {
        case e: Throwable =>
          errors += s"op $i threw ${e.getClass.getName}: ${e.getMessage}"
          ops += Op(i, tracer.on, Double.NaN, Map.empty, Map.empty, Seq(s"op $i threw"))
      }
      i += 1
    }
    tracer.on = false

    val good = ops.filter(_.failures.isEmpty).toSeq
    val plain = good.filterNot(_.traced)
    val tracedOps = good.filter(_.traced)
    val summary = workload.summary(plain)
    val failed = ops.count(_.failures.nonEmpty)
    val runFailures = selfTest ++ warmUpFailures
    val correct = failed == 0 && runFailures.isEmpty && ops.nonEmpty

    def lat(xs: Seq[Op]): Seq[Double] = xs.map(_.seconds)
    val latencies = lat(plain)
    val heapAfterGc = if (traced) Nil else heapLiveMb()
    val metrics: Seq[(String, String, Double)] =
      if (!traced) Seq(
        ("setup_s", "s", setupS),
        ("op_s_p50", "s", if (latencies.isEmpty) Double.NaN else Stats.median(latencies)),
        ("heap_live_mb", "MB", heapAfterGc.last),
        ("ok_frac", "ratio", if (ops.isEmpty) 0.0 else 1.0 - failed.toDouble / ops.size),
        ("store_bytes_per_row", "B/row", summary.storeBytesPerRow),
        ("quality", "ratio", summary.quality))
      else Layers.metrics(tracedOps, plain, tracer)

    val partNames = good.flatMap(_.parts.keys).distinct
    val record = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "tracing" -> traced, "nproc" -> nproc, "master" -> s"local[$nproc]",
      "spark_version" -> spark.version, "heap" -> a.getOrElse("heap", ""),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "peak_rss_mb" -> peakRssMb(),
      "heap_after_gc_mb" -> heapAfterGc,
      "git_commit" -> a.getOrElse("commit", "unknown"),
      "load1_at_start" -> a.get("load1").map(_.toDouble),
      "input_sizes" -> workload.inputSizes,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS,
        "warm_up_s" -> warmUpS, "warm_up_op_s" -> warmUp.map(_.seconds),
        "fixture_write_s" -> fixtureWriteS),
      "ops" -> Map("attempted" -> ops.size, "failed" -> failed,
        "failed_frac" -> (if (ops.isEmpty) 0.0 else failed.toDouble / ops.size),
        "traced" -> tracedOps.size, "untraced" -> plain.size),
      "latency" -> (Seq("op" -> latencies) ++ partNames.map(p => p -> plain.flatMap(_.parts.get(p))))
        .filter(_._2.nonEmpty).map { case (n, xs) =>
          val pct = Stats.tailPercentile(xs.size)
          n -> Map("p50_s" -> Stats.median(xs), "tail_s" -> Stats.tail(xs), "tail_percentile" -> pct,
            "samples" -> xs.size, "samples_above_tail" -> Stats.samplesAbove(xs.size, pct))
        }.toMap,
      "op_seconds" -> ops.map(o => Map("op" -> o.index, "traced" -> o.traced, "seconds" -> o.seconds,
        "parts" -> o.parts, "facts" -> o.facts)),
      "workload_record" -> summary.record,
      "layer_self_s" -> Layers.selfTimes(tracer),
      "failures" -> (errors ++ ops.flatMap(_.failures) ++ runFailures).take(20))
    println("GRAFTBENCH " + json.writeValueAsString(Map(
      "correct" -> correct, "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }: _*),
      "record" -> record,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
        "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks)))))
    System.out.flush()
    spark.stop()
  }
}
