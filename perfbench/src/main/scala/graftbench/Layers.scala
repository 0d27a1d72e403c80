package graftbench

/** Per-layer metrics of a traced run, computed from its spans.
  *
  * Times are medians over the traced ops. Counts are medians over the
  * first [[Main.CountPrefix]] traced ops, so with a fixed seed they repeat
  * exactly. A layer a workload never calls reports 0. */
object Layers {

  private def spansOf(t: Tracer, op: Op, name: String): Seq[Span] =
    t.spansOf(op.index).filter(s => s.name == name || s.name.startsWith(name + "."))

  private def time(ops: Seq[Op])(f: Op => Double): Double =
    if (ops.isEmpty) 0.0 else Stats.median(ops.map(f))

  private def count(ops: Seq[Op])(f: Op => Double): Double =
    time(Main.countPrefix(ops))(f)

  def metrics(traced: Seq[Op], untraced: Seq[Op], t: Tracer): Seq[(String, String, Double)] = {
    // exact-name time and subtree job count of a span
    def secs(name: String)(o: Op) = t.spansOf(o.index).filter(_.name == name).map(_.seconds).sum
    def jobs(name: String)(o: Op) = spansOf(t, o, name).map(_.counters.jobs).sum.toDouble
    def fact(name: String)(o: Op) = o.facts.getOrElse(name, 0.0)
    def total(o: Op) = t.spansOf(o.index).map(_.counters).foldLeft(Counters())(_ + _)
    // store census after the last append of the count prefix
    def census(name: String) =
      Main.countPrefix(traced).flatMap(_.facts.get(name)).lastOption.getOrElse(0.0)

    def timed(name: String, span: String) = (name, "s", time(traced)(secs(span)))
    def counted(name: String, span: String) = (name, "count", count(traced)(jobs(span)))

    val relational = Analytics.keys.flatMap { k =>
      Seq(timed(s"relational.$k.construct_s", s"relational.$k.construct"),
        timed(s"relational.$k.plan_s", s"relational.$k.plan"),
        timed(s"relational.$k.exec_s", s"relational.$k.exec"),
        counted(s"relational.$k.jobs", s"relational.$k"))
    }
    Seq(
      timed("typedef.infer_s", "typedef.infer"),
      counted("typedef.infer_jobs", "typedef.infer"),
      timed("io.write_s", "io.write"),
      timed("io.read_s", "io.read"),
      ("io.bytes_written", "B", count(traced)(fact("bytes_written"))),
      ("io.null_cells", "count", count(traced)(fact("null_cells")))) ++
    relational ++ Seq(
      timed("similarity.ann.construct_s", "similarity.ann.construct"),
      counted("similarity.ann.construct_jobs", "similarity.ann.construct"),
      timed("similarity.ann.plan_s", "similarity.ann.plan"),
      timed("similarity.ann.exec_s", "similarity.ann.exec"),
      counted("similarity.ann.exec_jobs", "similarity.ann.exec"),
      timed("similarity.append_s", "similarity.append"),
      counted("similarity.append_jobs", "similarity.append"),
      timed("pipeline.hybrid.construct_s", "pipeline.hybrid.construct"),
      counted("pipeline.hybrid.construct_jobs", "pipeline.hybrid.construct"),
      timed("pipeline.hybrid.plan_s", "pipeline.hybrid.plan"),
      timed("pipeline.hybrid.exec_s", "pipeline.hybrid.exec"),
      counted("pipeline.hybrid.exec_jobs", "pipeline.hybrid.exec"),
      timed("pipeline.lex_append_s", "pipeline.lex_append"),
      counted("pipeline.lex_append_jobs", "pipeline.lex_append"),
      ("store.ivf.files", "count", census("ivf_files")),
      ("store.ivf.bytes_per_vector", "B", census("ivf_bytes_per_vector")),
      ("store.lex.files", "count", census("lex_files")),
      ("store.lex.bytes", "B", census("lex_bytes")),
      ("spark.jobs", "count", count(traced)(o => total(o).jobs.toDouble)),
      ("spark.stages", "count", count(traced)(o => total(o).stages.toDouble)),
      ("spark.tasks", "count", count(traced)(o => total(o).tasks.toDouble)),
      ("spark.task_run_s", "s", time(traced)(o => total(o).taskRunMs / 1000.0)),
      ("spark.task_wait_s", "s", time(traced)(o => total(o).taskWaitMs / 1000.0)),
      ("spark.gc_s", "s", time(traced)(o => total(o).gcMs / 1000.0)),
      ("spark.input_bytes", "B", count(traced)(o => total(o).inputBytes.toDouble)),
      ("spark.records_read_per_result", "ratio", count(traced)(o =>
        total(o).recordsRead / math.max(1.0, fact("result_rows")(o)))),
      ("spark.shuffle_write_bytes", "B", count(traced)(o => total(o).shuffleWriteBytes.toDouble)),
      ("spark.spill_bytes", "B", count(traced)(o => total(o).spillBytes.toDouble)),
      ("trace.overhead_s", "s",
        if (traced.isEmpty || untraced.isEmpty) 0.0
        else Stats.median(traced.map(_.seconds)) - Stats.median(untraced.map(_.seconds))))
  }

  /** Median self time per layer (span time minus its child spans' time),
    * the layer being the first component of the span name. */
  def selfTimes(t: Tracer): Map[String, Double] = {
    val spans = t.spans.filter(_.op >= 0)
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.op).toSeq
      .flatMap { case (_, ss) =>
        ss.map(s => s.name.takeWhile(_ != '.') -> (s.seconds - childTime.getOrElse(s.id, 0.0)))
          .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
      }
      .groupBy(_._1).map { case (l, xs) => l -> Stats.median(xs.map(_._2)) }
  }
}
