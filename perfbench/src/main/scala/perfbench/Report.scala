package perfbench

/** Per-layer metrics of each traced query, and the traced run's report. */
object Layers {

  /** Every per-layer metric with its unit, in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.build_self_s" -> "s",
    "pin.left" -> "count", "pin.mb" -> "MiB",
    "sql.exec_s" -> "s", "sql.exec_self_s" -> "s",
    "codegen.classes" -> "count", "codegen.ms" -> "ms",
    "plan.exchanges" -> "count", "plan.smj" -> "count",
    "plan.windows" -> "count", "plan.broadcasts" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "sched.driver_s" -> "s",
    "task.run_s" -> "s", "task.cpu_s" -> "s", "task.gc_s" -> "s",
    "task.straggler_s" -> "s",
    "shuffle.write_mb" -> "MiB", "shuffle.read_mb" -> "MiB",
    "shuffle.spill_mb" -> "MiB",
    "io.input_mb" -> "MiB", "io.output_mb" -> "MiB",
    "io.output_records" -> "count",
    "jvm.jit_ms" -> "ms", "jvm.classes_loaded" -> "count", "jvm.gc_s" -> "s")

  /** Kept out of the result line, only in the trace files: with the fixed
    * heap no collection falls inside a timed region at this data size, so
    * these read 0 on every run.
    */
  val traceOnly: Set[String] = Set("task.gc_s", "jvm.gc_s")

  private val MiB = 1024.0 * 1024.0
  private val Us = 1e-6 // microseconds to seconds

  /** Job spans, tasks and completed stages of a traced run, by parent. */
  final class Index(tr: Tracer) {
    val spans: Seq[Span] = tr.spans
    val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap
    val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
    private val tasksOf = tr.tasks.groupBy(_.job)
    private val stagesOf = tr.stages.groupBy(_._1)

    private def jobs(of: Span): Seq[Span] =
      children.getOrElse(of.id, Nil).filter(_.kind == "job")

    def selfTime(s: Span): Long =
      Stats.selfTime(s.start, s.end,
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))

    def layers(q: QueryTrace, plans: Array[Long]): Map[String, Double] = {
      val buildJobs = jobs(q.build)
      val all = buildJobs ++ jobs(q.exec)
      val tasks = all.flatMap(j => tasksOf.getOrElse(j.id, Nil))
      val stages = all.flatMap(j => stagesOf.getOrElse(j.id, Nil)).map(_._2).distinct
      val straggler = tasks.groupBy(_.stage).values.map { ts =>
        val d = ts.map(t => (t.end - t.start).toDouble)
        d.max - Stats.median(d)
      }.sum
      val c = q.counters
      Map(
        "queries.build_s" -> (q.build.end - q.build.start) * Us,
        "queries.build_jobs" -> buildJobs.size.toDouble,
        "queries.build_self_s" -> selfTime(q.build) * Us,
        "pin.left" -> q.pinLeft.toDouble,
        "pin.mb" -> q.pinMiB,
        "sql.exec_s" -> (q.exec.end - q.exec.start) * Us,
        "sql.exec_self_s" -> selfTime(q.exec) * Us,
        "codegen.classes" -> c.codegen.toDouble,
        "codegen.ms" -> c.codegenUs / 1000.0,
        "sched.jobs" -> all.size.toDouble,
        "sched.stages" -> stages.size.toDouble,
        "sched.tasks" -> tasks.size.toDouble,
        "sched.driver_s" -> Stats.selfTime(q.query.start, q.query.end,
          tasks.map(t => (t.start, t.end))) * Us,
        "task.run_s" -> tasks.map(_.runMs).sum / 1000.0,
        "task.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "task.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
        "task.straggler_s" -> straggler * Us,
        "shuffle.write_mb" -> tasks.map(_.shuffleWrite).sum / MiB,
        "shuffle.read_mb" -> tasks.map(_.shuffleRead).sum / MiB,
        "shuffle.spill_mb" -> tasks.map(_.spill).sum / MiB,
        "io.input_mb" -> tasks.map(_.input).sum / MiB,
        "io.output_mb" -> tasks.map(_.output).sum / MiB,
        "io.output_records" -> tasks.map(_.outputRecords).sum.toDouble,
        "jvm.jit_ms" -> c.jitMs.toDouble,
        "jvm.classes_loaded" -> c.classes.toDouble,
        "jvm.gc_s" -> c.gcMs / 1000.0,
      ) ++ Tracer.PlanWalk.names.zip(plans.map(_.toDouble))
    }
  }

  /** Sums each metric over the queries of one pass. */
  def perPass(queries: Seq[Map[String, Double]]): Map[String, Double] =
    metrics.map { case (m, _) => m -> queries.map(_(m)).sum }.toMap

  /** The traced run's report: self time of each span kind per pass, the
    * five queries that spend most on each layer metric, and the tracing
    * overhead on the warm pass time. Pass 0 is the cold pass.
    */
  def report(workload: String, tr: Tracer, ix: Index,
             traced: Seq[(QueryTrace, Map[String, Double])],
             tracedWalls: Seq[Double], untracedWalls: Seq[Double]): Seq[String] = {
    val warm = traced.filter(_._1.pass > 0)
    val out = Seq.newBuilder[String]
    out += s"trace report: workload $workload, run ${tr.runId}"
    val passes = ix.spans.filter(_.kind == "pass")
    def passOf(s: Span): Long = s.kind match {
      case "pass" => s.id
      case _ => ix.byId.get(s.parent).map(passOf).getOrElse(0L)
    }
    val selfByPass = ix.spans.filter(_.kind != "run").groupBy(passOf)
    out += "self time per pass by span kind, s (median over traced warm passes; cold pass):"
    Seq("pass", "query", "build", "exec", "job").foreach { kind =>
      def self(p: Span) = selfByPass.getOrElse(p.id, Nil).filter(_.kind == kind)
        .map(ix.selfTime).sum * Us
      val (cold, warmPasses) = passes.partition(_.name == "pass 0")
      val w = warmPasses.map(self)
      out += f"  $kind%-6s ${if (w.isEmpty) Double.NaN else Stats.median(w)}%9.4f ; cold ${cold.map(self).sum}%9.4f"
    }
    out += "top 5 queries per layer metric (median over traced warm passes):"
    val byQuery = warm.groupBy(_._1.query.name)
    metrics.foreach { case (m, unit) =>
      val top = byQuery.map { case (q, xs) => q -> Stats.median(xs.map(_._2(m))) }
        .toSeq.sortBy(-_._2).take(5)
      out += s"  $m [$unit]: " + top.map { case (q, v) => f"$q $v%.4g" }.mkString(", ")
    }
    if (tracedWalls.nonEmpty && untracedWalls.nonEmpty) {
      val t = Stats.median(tracedWalls)
      val u = Stats.median(untracedWalls)
      out += f"tracing overhead on warm_pass_s: traced $t%.4f s (n=${tracedWalls.size}) vs untraced $u%.4f s (n=${untracedWalls.size}): ${100 * (t / u - 1)}%+.1f%%"
    }
    out.result()
  }
}
