package graftbench

/** Per-layer metrics, derived from the traced run's spans and from the
  * single-threaded kernel timings. Names are grouped by the program's
  * modules: operators, index, plans, spatial, functions. Every name is
  * reported on every workload; a layer that does no work on a workload
  * reports zero counts and shares there. */
object Layers {
  import Runner.median

  private def roots(t: Tracer): Seq[Span] = t.spans.filter(_.parent == -1).toSeq
  private def kids(t: Tracer, name: String): Map[Long, Span] =
    t.spans.filter(_.name == name).map(s => s.opId -> s).toMap

  /** Per op class: median jobs and stages of its build, plan and exec
    * spans. Deterministic programs repeat these exactly. */
  def classCounts(t: Tracer): Seq[(String, String)] = {
    val ks = Seq("build", "plan", "exec").map(n => n -> kids(t, n))
    roots(t).groupBy(_.opClass).toSeq.sortBy(_._1).map { case (cls, rs) =>
      val parts = ks.flatMap { case (n, m) =>
        val sp = rs.flatMap(r => m.get(r.opId))
        Seq(s"${n}_jobs" -> sp.map(_.jobs.toDouble), s"${n}_stages" -> sp.map(_.stages.toDouble))
      }
      cls -> Json.obj(parts.map { case (k, v) => k -> Json.num(median(v)) })
    }
  }

  /** Tracer bookkeeping time as a share of the traced operations' wall. */
  def overhead(t: Tracer): Double = {
    val wall = roots(t).map(_.seconds).sum
    if (wall <= 0) 0.0 else t.selfNs / 1e9 / wall
  }

  def metrics(inst: Instance, t: Tracer, retainedMb: Double,
              seed: Long): Seq[(String, Double, String)] = {
    val rs = roots(t)
    val build = kids(t, "build")
    val plan = kids(t, "plan")
    val exec = kids(t, "exec")
    def at(s: Span, k: String): Double = exec.get(s.opId).flatMap(_.attrs.get(k)).getOrElse(0.0)
    def sumOfClassMedians(f: Span => Double): Double =
      rs.groupBy(_.opClass).values.map(g => median(g.map(f))).sum
    def b(s: Span) = build(s.opId)
    def e(s: Span) = exec(s.opId)
    def ratio(num: Double, den: Double): Double = if (den <= 0) 0.0 else num / den

    val out = Seq.newBuilder[(String, Double, String)]
    out += (("operators.build_s", sumOfClassMedians(b(_).seconds), "s"))
    out += (("operators.exec_s", sumOfClassMedians(e(_).seconds), "s"))
    out += (("operators.build_jobs", sumOfClassMedians(b(_).jobs.toDouble), "count"))
    out += (("operators.exec_jobs", sumOfClassMedians(s => (s.jobs - b(s).jobs).toDouble), "count"))
    out += (("operators.stages", sumOfClassMedians(_.stages.toDouble), "count"))
    out += (("operators.shuffle_write_mb", sumOfClassMedians(_.shuffleWriteBytes / 1e6), "MB"))
    out += (("operators.cpu_s", sumOfClassMedians(_.cpuNs / 1e9), "s"))
    out += (("operators.retained_mb", retainedMb, "MB"))
    val withCand = rs.filter(at(_, "candidates") > 0)
    out += (("operators.candidates_per_result",
      ratio(withCand.map(at(_, "candidates")).sum, withCand.map(at(_, "results")).sum), "ratio"))
    for (g <- Runner.AllGroups) {
      val gs = rs.filter(_.group == g)
      val n = math.max(gs.size, 1).toDouble
      val gc = gs.filter(at(_, "candidates") > 0)
      out += ((s"operators.$g.build_share", ratio(gs.map(b(_).seconds).sum, gs.map(_.seconds).sum), "fraction"))
      out += ((s"operators.$g.build_jobs", gs.map(b(_).jobs).sum / n, "count"))
      out += ((s"operators.$g.exec_jobs", gs.map(s => s.jobs - b(s).jobs).sum / n, "count"))
      out += ((s"operators.$g.stages", gs.map(_.stages).sum / n, "count"))
      out += ((s"operators.$g.shuffle_write_mb", gs.map(_.shuffleWriteBytes).sum / n / 1e6, "MB"))
      out += ((s"operators.$g.candidates_per_result",
        ratio(gc.map(at(_, "candidates")).sum, gc.map(at(_, "results")).sum), "ratio"))
    }

    // index: per access path of the lookup reads
    val setupTotal = inst.setupParts.values.sum
    for (p <- Runner.Paths) {
      val ps = rs.filter(s => s.group == "lookup_read" && s.opClass.endsWith(s"_$p"))
      val pruned = ps.filter(s => at(s, "partitions_total") > 0)
      out += ((s"index.$p.build_frac_of_setup",
        ratio(inst.setupParts.getOrElse(s"build_$p", 0.0), setupTotal), "fraction"))
      out += ((s"index.$p.partitions_read_frac",
        ratio(pruned.map(at(_, "partitions_read")).sum, pruned.map(at(_, "partitions_total")).sum),
        "fraction"))
      out += ((s"index.$p.rows_read_per_result",
        ratio(ps.map(at(_, "scan_rows")).sum, ps.map(at(_, "results")).sum), "ratio"))
    }
    val ws = inst.writeStats
    out += (("index.disk.write_bytes_per_user_byte",
      ratio(ws.getOrElse("written_bytes", 0.0), ws.getOrElse("user_bytes", 0.0)), "ratio"))
    out += (("index.disk.files_written_per_write",
      ratio(ws.getOrElse("written_files", 0.0), ws.getOrElse("writes", 0.0)), "count"))

    // plans: forcing the executed plan, and how often a plain-table
    // lookup was answered from a registered index's cache
    out += (("plans.plan_ms", median(rs.map(s => plan(s.opId).seconds * 1000)), "ms"))
    val scans = rs.filter(s => s.group == "lookup_read" && s.opClass.endsWith("_scan"))
    out += (("plans.substitution_hit_frac",
      ratio(scans.map(at(_, "cache_read")).sum, scans.size.toDouble), "fraction"))

    Kernels.measure(seed).foreach { case (k, v) => out += ((k, v, "ns")) }
    out += (("trace.overhead_frac", overhead(t), "fraction"))
    out.result()
  }
}
