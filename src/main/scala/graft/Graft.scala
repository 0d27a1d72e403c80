package graft

import org.apache.spark.sql.SparkSession

/** User entry point: a SparkSession builder with graft's required and
  * recommended configuration applied. On a cluster, pair with
  * `spark.sql.extensions=graft.GraftExtensions` (or call
  * `functions.GraftFunctions.register`). */
object Graft {

  /** Confs the library requires (nanos parquet reads, UTC determinism)
    * plus scale defaults (AQE with skew-join handling is on by default
    * in Spark 4; shuffle partitions sized by the caller). */
  def builder(master: String = "local[*]", shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    if (shufflePartitions > 0) b.config("spark.sql.shuffle.partitions", shufflePartitions)
    else b
  }

  def session(master: String = "local[*]", shufflePartitions: Int = 0): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    functions.GraftFunctions.register(s)
    s
  }

  /** `SPARK_GRAFT_CPUS` as a core count: `default` when unset, a
    * positive integer otherwise; anything else fails with a clear
    * message rather than reaching a master URL or a JSON artifact. */
  private[graft] def parseCpus(raw: Option[String], default: Int): Int =
    raw.fold(default) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }

  private[graft] def envCpus(default: Int): Int =
    parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** `SPARK_GRAFT_CONF="graft.pack.shardSpan=64,other.key=v"`: runtime
    * confs for sweep variants. Ops (and their oracle SQL, e.g. c15's
    * shard span) read these through the session, so a swept knob stays
    * in sync with its oracle by construction. */
  private[graft] def parseConfs(raw: String): Seq[(String, String)] =
    raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entries must be key=value, got '$kv'")
      }
    }

  /** The session every graft main runs on: [[builder]] at
    * `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`) with that many
    * shuffle partitions and the UI off, then the caller's own tuning
    * `confs`, then `SPARK_GRAFT_CONF` on top. */
  private[graft] def mainSession(defaultCpus: Int, confs: (String, String)*): SparkSession = {
    val cpus = envCpus(defaultCpus)
    val spark = confs.foldLeft(builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    parseConfs(sys.env.getOrElse("SPARK_GRAFT_CONF", "")).foreach { case (k, v) =>
      spark.conf.set(k, v)
    }
    spark
  }
}
