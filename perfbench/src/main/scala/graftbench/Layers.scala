package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced run, computed from the spans and the
  * listener records. Spans of kind `aux` (result writes, store-shape
  * counters, the final check read) are the benchmark's own work and are
  * left out of every sum. */
object Layers {

  val Families: Seq[String] =
    Seq("a", "c", "d", "g", "geo", "j", "m", "mon", "o", "p", "q", "s", "sd", "t", "x")
  val Phases: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets", "triggerExecution")

  def report(ctx: Main.Ctx, out: Json): Unit = {
    val tr = ctx.tracer
    val spans = tr.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Long): Iterator[Span] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).map(_.get)
    def measured(id: Long): Boolean = !ancestors(id).exists(_.kind == "aux")
    def under(id: Long, pred: Span => Boolean): Option[Span] = ancestors(id).find(pred)
    def wallMs(s: Span): Double = (s.endNs - s.startNs) / 1e6

    val tasks = tr.allTasks.filter(t => measured(t.span))
    val jobs = tr.jobSpans.filter { case (_, sid, _) => measured(sid) }

    // scheduler and executor
    out.num("scheduler.jobs", jobs.size)
    out.num("scheduler.stages", tr.stagesOf(sid => measured(sid)))
    out.num("scheduler.tasks", tasks.size)
    val runMs = tasks.map(_.runMs).sum.toDouble
    out.num("executor.run_ms", runMs)
    out.num("executor.cpu_ms", tasks.map(_.cpuNs).sum / 1e6)
    out.num("executor.gc_ms", tasks.map(_.gcMs).sum.toDouble)
    out.num("executor.spill_bytes", tasks.map(_.spillBytes).sum.toDouble)
    out.num("shuffle.read_bytes", tasks.map(_.shuffleRead).sum.toDouble)
    out.num("shuffle.write_bytes", tasks.map(_.shuffleWrite).sum.toDouble)

    // Units of execution wall time: each micro-batch of a streaming op, and
    // each other op. gap = unit wall time during which no task of it ran.
    val progresses = tr.progresses
    val streamOp = spans.find(s => s.kind == "op" && s.name == "stream")
      .orElse(spans.find(s => s.kind == "op" && s.name == "drain"))
    val batchUnits = progresses.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      (start, start + dur, tasks.filter(t => t.batch == p.batchId.toString))
    }
    val opUnits = spans.filter(s => (s.kind == "op" || s.kind == "query") &&
        !streamOp.exists(_.id == s.id) && measured(s.id)).map { s =>
      (s.startNs / 1000000L, s.endNs / 1000000L,
        tasks.filter(t => t.batch == null && under(t.span, _.id == s.id).isDefined))
    }
    val units = batchUnits ++ opUnits
    val unitWall = units.map { case (a, b, _) => (b - a).toDouble }.sum
    val gap = units.map { case (a, b, ts) => (b - a) - covered(a, b, ts) }.sum.toDouble
    out.num("scheduler.gap_ms.total", gap)
    out.num("executor.parallelism", if (unitWall > 0) runMs / unitWall else 0.0)

    // query_mix: builder, planner, families
    val queries = spans.filter(_.kind == "query")
    def phaseMs(p: String) = spans.filter(s => s.kind == "phase" && s.name == p &&
      byId.get(s.parent).exists(_.kind == "query")).map(wallMs).sum
    out.num("sparkentry.build_ms.total", phaseMs("build"))
    out.num("sparkentry.build_jobs.total", jobs.count { case (_, sid, _) =>
      byId.get(sid).exists(s => s.kind == "phase" && s.name == "build" &&
        byId.get(s.parent).exists(_.kind == "query")) })
    out.num("catalyst.plan_ms.total", phaseMs("plan"))
    Families.foreach { f =>
      val qs = queries.filter(_.attrs.get("family").contains(f))
      val ids = qs.map(_.id).toSet
      out.num(s"family.$f.wall_ms", qs.map(wallMs).sum)
      out.num(s"family.$f.cpu_ms",
        tasks.filter(t => under(t.span, s => ids(s.id)).isDefined).map(_.cpuNs).sum / 1e6)
    }

    // store reads: input bytes of each lookup's execute phase
    val lookupBytes = spans.filter(_.kind == "op").filter(_.name == "lookup").map { l =>
      tasks.filter(t => under(t.span, s => s.kind == "phase" && s.name == "execute" &&
        s.parent == l.id).isDefined).map(_.inputBytes).sum.toDouble
    }
    out.num("store.lookup_bytes_read.p50", Stats.median(lookupBytes))

    // streaming progress
    out.num("streaming.batches", progresses.size)
    Phases.foreach { ph =>
      val v = progresses.map(p => Option(p.durationMs.get(ph)).map(_.doubleValue).getOrElse(0.0))
      out.num(s"streaming.${ph}_ms.p50", Stats.median(v))
      out.num(s"streaming.${ph}_ms.total", v.sum)
    }
    val ops = progresses.map(_.stateOperators.toSeq)
    out.num("streaming.state_rows", ops.lastOption.map(_.map(_.numRowsTotal).sum).getOrElse(0L).toDouble)
    out.num("streaming.state_memory_bytes",
      if (ops.isEmpty) 0.0 else ops.map(_.map(_.memoryUsedBytes).sum).max.toDouble)
    out.num("streaming.state_commit_ms.total", ops.flatten.map(_.commitTimeMs).sum.toDouble)
    out.num("streaming.dropped_late_rows", ops.flatten.map(_.numRowsDroppedByWatermark).sum.toDouble)
    out.num("streaming.dropped_duplicate_rows", ops.flatten.map(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum.toDouble)

    out.num("trace.listener_ms", tr.listenerMs)
    out.num("trace.spans", spans.size)
  }

  /** Milliseconds of [a, b] covered by at least one task interval. */
  def covered(a: Long, b: Long, ts: Seq[TaskRec]): Long = {
    val iv = ts.map(t => (math.max(a, t.launchMs), math.min(b, t.finishMs)))
      .filter { case (x, y) => y > x }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (x, y) =>
      if (x > curE) { total += curE - curS; curS = x; curE = y }
      else curE = math.max(curE, y)
    }
    total + (curE - curS)
  }

  def writeSpans(ctx: Main.Ctx, path: String): Unit = {
    val tr = ctx.tracer
    val base = tr.allSpans
    val stream = base.find(s => s.kind == "op" && (s.name == "stream" || s.name == "drain"))
    val all = base ++ tr.derivedSpans(stream.map(_.id).getOrElse(0L))
    Main.writeLines(path, all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},"start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":$attrs}"""
    })
  }
}
