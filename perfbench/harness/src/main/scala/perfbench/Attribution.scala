package perfbench

/** Splits a traced op's wall time into self times that never overlap:
  *
  *  - `exec`: the union of the op's Spark job intervals;
  *  - `catalyst`: the union of its queries' tracker phases (analysis,
  *    optimization, planning) outside any job;
  *  - `driver`: the rest of the op's wall time.
  *
  * The three add up to the op's wall time. Intervals are in epoch
  * milliseconds, the resolution of Spark's event times. */
object Attribution {

  private def jobSpans(t: OpTrace): Seq[Span] =
    t.jobs.filter(_.end >= 0).map(j => Span(j.start, j.end))

  private def phaseSpans(t: OpTrace): Seq[Span] =
    t.qes.flatMap(q => q.phases.collect { case (p, s) if p != "parsing" => s })

  private def phaseSum(t: OpTrace, phase: String): Double =
    t.qes.flatMap(_.phases.get(phase)).map(_.len).sum / 1e3

  def of(t: OpTrace, w: Span, wallS: Double): Map[String, Any] = {
    val jobs = Span.union(Span.clip(jobSpans(t), w))
    val both = Span.union(Span.clip(jobSpans(t) ++ phaseSpans(t), w))
    val execS = math.min(wallS, jobs.map(_.len).sum / 1e3)
    val catS = math.min(wallS - execS, (both.map(_.len).sum - jobs.map(_.len).sum) / 1e3)
    val tot = t.stages.map(_.totals)
    def sumT(f: TaskTotals => Long) = tot.map(x => x.synchronized(f(x))).sum
    val stmts = t.qes.filter(_.catalog)
    def stmtS(cls: String) = stmts.filter(_.cls == cls).map(_.durS).sum
    Map(
      "exec_s" -> execS, "catalyst_s" -> catS, "driver_s" -> (wallS - execS - catS),
      "jobs" -> t.jobs.size, "stages" -> t.stages.size,
      "tasks" -> sumT(_.tasks), "failed_tasks" -> sumT(_.failed),
      "job_wall_s" -> jobs.map(_.len).sum / 1e3,
      "task_s" -> sumT(_.runMs) / 1e3, "task_cpu_s" -> sumT(_.cpuNs) / 1e9,
      "task_gc_s" -> sumT(_.gcMs) / 1e3, "sched_wait_s" -> sumT(_.schedWaitMs) / 1e3,
      "input_rows" -> sumT(_.inRows), "input_bytes" -> sumT(_.inBytes),
      "shuffle_write_bytes" -> sumT(_.shuffleWrite), "spill_bytes" -> sumT(_.spill),
      "queries" -> t.qes.size,
      "analysis_s" -> phaseSum(t, "analysis"), "optimization_s" -> phaseSum(t, "optimization"),
      "planning_s" -> phaseSum(t, "planning"),
      "statements" -> stmts.size, "ddl_s" -> stmtS("ddl"), "write_s" -> stmtS("write"),
      "refresh_s" -> stmtS("refresh"), "select_s" -> stmtS("select"))
  }

  /** The op's span tree: the op, its queries with their phases, and its
    * jobs with their stages. Children carry their parent's id. */
  def spans(i: Int, name: String, w: Span, wallS: Double, t: OpTrace): Map[String, Any] = {
    val self = of(t, w, wallS)
    Map(
      "op" -> i, "name" -> name, "start_ms" -> w.start, "end_ms" -> w.end, "wall_s" -> wallS,
      "self" -> Map("exec_s" -> self("exec_s"), "catalyst_s" -> self("catalyst_s"),
        "driver_s" -> self("driver_s")),
      "queries" -> t.qes.zipWithIndex.map { case (q, n) =>
        Map("id" -> s"$i.q$n", "parent" -> i, "func" -> q.func, "node" -> q.node,
          "class" -> q.cls, "catalog" -> q.catalog, "duration_s" -> q.durS,
          "phases" -> q.phases.map { case (p, s) => p -> Map("start_ms" -> s.start, "end_ms" -> s.end) })
      },
      "jobs" -> t.jobs.map { j =>
        Map("id" -> s"$i.j${j.id}", "parent" -> i, "start_ms" -> j.start, "end_ms" -> j.end,
          "stages" -> t.stages.filter(s => j.stages.contains(s.id)).map { s =>
            Map("id" -> s"$i.s${s.id}", "parent" -> s"$i.j${j.id}", "submit_ms" -> s.submit,
              "complete_ms" -> s.complete, "tasks" -> s.totals.tasks,
              "task_s" -> s.totals.runMs / 1e3)
          })
      })
  }
}
