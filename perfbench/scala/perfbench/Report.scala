package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** Per-layer aggregation of the trace and the run's printed report.
  * The last stdout line is one JSON object; `run.py` maps it onto the
  * metric list in BENCHMARK.json.
  */
object Report {

  /** Counters of one span instance, in report order. */
  val Counters: Seq[String] = Seq("wall_s", "self_s", "jobs", "tasks", "cpu_s", "gc_s",
    "shuffle_mb", "rows_out", "idle_frac")

  final case class Row(name: String, calls: Int, values: mutable.LinkedHashMap[String, Double],
      totals: mutable.LinkedHashMap[String, Double])

  private def instance(s: SpanRec, self: Double, cores: Int, l: SpanListener): Map[String, Double] = {
    val k = l.counters(s.id)
    val wall = s.wallS
    Map("wall_s" -> wall, "self_s" -> self, "jobs" -> k.jobs.toDouble,
      "tasks" -> k.tasks.toDouble, "cpu_s" -> k.cpuNs / 1e9, "gc_s" -> k.gcMs / 1e3,
      "shuffle_mb" -> k.shuffleWriteBytes / 1048576.0,
      "rows_out" -> s.extra.getOrElse("rows_out", 0.0),
      "idle_frac" -> (if (wall > 0) 1.0 - k.runMs / 1e3 / (wall * cores) else 0.0),
      "out_mb" -> k.bytesWritten / 1048576.0) ++ (s.extra - "rows_out")
  }

  /** Every recorded span name with its counters: the value of a single
    * call, or the per-call median when the call repeats; `totals` sums
    * over calls. The workload root spans are included.
    */
  def table(c: Ctx): Seq[Row] = {
    c.tr.flush()
    val spans = c.tr.recorded
    val self = Tracer.selfTimes(spans)
    val l = c.tr.listener.get
    spans.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (name, ss) =>
      val inst = ss.map(s => instance(s, self(s.id), c.cores, l))
      val keys = (Counters ++ inst.flatMap(_.keys)).distinct
      val values = mutable.LinkedHashMap.empty[String, Double]
      val totals = mutable.LinkedHashMap.empty[String, Double]
      keys.foreach { k =>
        val xs = inst.map(_.getOrElse(k, 0.0))
        values(k) = Stats.median(xs)
        totals(k) = xs.sum
      }
      Row(name, ss.length, values, totals)
    }
  }

  def row(rows: Seq[Row], name: String): Option[Row] = rows.find(_.name == name)

  /** Publish every counter of every span as `<span>.<counter>`. */
  def publishSpans(c: Ctx, rows: Seq[Row]): Unit = rows.foreach { r =>
    r.values.foreach { case (k, v) => c.layer(s"${r.name}.$k") = v }
    c.layer(s"${r.name}.calls") = r.calls
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def footer(c: Ctx, metrics: Seq[(String, String)]): Unit = {
    val ms = metrics.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    println(s"""{"correct": ${c.failed == 0}, "attempted": ${c.attempted}, "failed": ${c.failed}, "metrics": {$ms}}""")
  }

  private def opsLine(c: Ctx): Unit =
    println(f"ops_failed_frac ${if (c.attempted == 0) 0.0 else c.failed.toDouble / c.attempted}%.4f " +
      s"(${c.failed} of ${c.attempted} operations and checks)")

  def untraced(c: Ctx): Unit = {
    c.notes.foreach(n => println(s"note $n"))
    c.e2e.foreach { case (k, (v, u)) => println(f"metric $k%-20s ${num(v)}%s $u") }
    opsLine(c)
    footer(c, c.e2e.toSeq.map { case (k, (v, u)) => k -> s"""{"value": ${num(v)}, "unit": "$u"}""" })
  }

  /** Traced run: the per-layer table, the trace file, and tracing overhead
    * (median traced unit minus median untraced unit).
    */
  def traced(c: Ctx): Unit = {
    c.notes.foreach(n => println(s"note $n"))
    c.layer.foreach { case (k, v) => println(f"layer $k%-48s ${num(v)}") }
    opsLine(c)
    writeTrace(c)
    footer(c, c.layer.toSeq.map { case (k, v) => k -> num(v) })
  }

  /** Self-time accounting and tracing overhead from the workload's loop.
    * A traced unit's wall is the summed self time of its layer spans plus
    * the root span's own, unattributed self time. Medians over traced
    * units:
    *  - `trace.layer_self_s`: the layer spans' summed self time;
    *  - `trace.unattributed_s`: the root's self time (time in no layer);
    *  - `trace.accounted_frac`: layer self time over the untraced unit's
    *    wall, the share of the untraced wall the layers account for;
    *  - `trace.overhead_s`: traced unit wall minus untraced unit wall.
    */
  def overhead(c: Ctx, loop: Loop): Unit = {
    val spans = c.tr.recorded
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: SpanRec): SpanRec = if (s.parent < 0) s else rootOf(byId(s.parent))
    val self = Tracer.selfTimes(spans)
    val roots = spans.filter(s => s.parent < 0 && s.name == c.args.workload)
    val layerSelf = spans.filter(_.parent >= 0).groupBy(s => rootOf(s).id)
      .map { case (r, ss) => r -> ss.map(s => self(s.id)).sum }
    require(roots.nonEmpty && loop.traced.nonEmpty && loop.untraced.nonEmpty,
      "a traced run needs traced and untraced units")
    val ls = Stats.median(roots.map(r => layerSelf.getOrElse(r.id, 0.0)))
    val tw = Stats.median(loop.traced.toSeq)
    val uw = Stats.median(loop.untraced.toSeq)
    c.layer("trace.units") = roots.length
    c.layer("trace.traced_wall_s") = tw
    c.layer("trace.untraced_wall_s") = uw
    c.layer("trace.layer_self_s") = ls
    c.layer("trace.unattributed_s") = Stats.median(roots.map(r => self(r.id)))
    c.layer("trace.accounted_frac") = ls / uw
    c.layer("trace.overhead_s") = tw - uw
  }

  private def writeTrace(c: Ctx): Unit = {
    val dir = new File(c.args.traces)
    dir.mkdirs()
    val f = new File(dir, s"${c.args.workload}-seed${c.args.seed}-trace.json")
    val self = Tracer.selfTimes(c.tr.recorded)
    val l = c.tr.listener.get
    val out = new PrintWriter(f, "UTF-8")
    try {
      out.println("{\"run\": \"" + c.tr.runId + "\", \"cores\": " + c.cores + ", \"spans\": [")
      out.println(c.tr.recorded.map { s =>
        val k = instance(s, self(s.id), c.cores, l)
        val fields = k.toSeq.sortBy(_._1).map { case (n, v) => s""""$n": ${num(v)}""" }.mkString(", ")
        s"""  {"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": "${s.runId}", """ +
          s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, $fields}"""
      }.mkString(",\n"))
      out.println("]}")
    } finally out.close()
    println(s"trace written to ${f.getPath}")
  }
}
