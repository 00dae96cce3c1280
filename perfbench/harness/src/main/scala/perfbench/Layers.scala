package perfbench

import scala.collection.mutable

/** Turns one traced pass's listener events into per-layer metrics,
  * spans and call-site rows.
  *
  * A job belongs to the graft module that issued its SQL execution: the
  * first `graft.` frame of the execution's long-form call site. The
  * final stage's name is no use for this, because under AQE most stage
  * names read `CompletableFuture.java`. Jobs outside any SQL execution,
  * such as parallel file listing, fall back to the call site of their
  * final stage. A micro-batch's call site is the `start()` in
  * `jobs.Pipelines`, so streaming jobs go to the module that defines
  * the query: source, windows and sink all come from `TickStream`. */
object Layers {
  val StreamModule = "streaming.TickStream"
  private val MB = 1024.0 * 1024.0

  final case class Span(id: Int, parent: Int, kind: String, name: String, startMs: Long, endMs: Long)

  final class Site(val module: String) {
    var execs = 0; var jobs = 0; var tasks = 0; var taskS = 0.0; var wallS = 0.0
  }

  /** (module, "File.scala:line") of the first graft frame of a call site. */
  def graftFrame(longForm: String): Option[(String, String)] =
    longForm.split("\n").iterator.map(_.trim).find(_.startsWith("graft.")).map { f =>
      val paren = f.indexOf('(')
      val cls = f.substring(0, f.lastIndexOf('.', paren))
      val pkg = cls.substring(0, cls.lastIndexOf('.')).stripPrefix("graft").stripPrefix(".")
      val fileLine = f.substring(paren + 1, f.length - 1)
      val file = fileLine.takeWhile(_ != '.')
      ((if (pkg.isEmpty) file else s"$pkg.$file"), fileLine)
    }

  /** Total length of the union of [start, end] intervals, in ms. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `mains`: the span id, start and end (epoch ms) of each main the pass ran. */
  def passMetrics(ev: Trace.Events, passSpan: Span, mains: Seq[Span], cores: Int,
                  spans: mutable.ArrayBuffer[Span], sites: mutable.Map[String, Site]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    def spanOf(ms: Long) = mains.find(m => m.startMs <= ms && ms <= m.endMs).getOrElse(passSpan)
    def end(startMs: Long, endMs: Long) = math.max(startMs, endMs)

    val streamingExecs = ev.jobs.filter(_.streaming).flatMap(j => j.execId.map(j.ctx -> _)).toSet
    val execInfo = ev.execs.map { x =>
      val frame = graftFrame(x.site)
      val module =
        if (streamingExecs((x.ctx, x.id))) StreamModule else frame.map(_._1).getOrElse("other")
      val span = Span(spans.size, spanOf(x.startMs).id, "sql", s"${x.id} ${x.description.linesIterator.nextOption().getOrElse("")}",
        x.startMs, end(x.startMs, x.endMs))
      spans += span
      (x.ctx, x.id) -> (x, module, frame.map(_._2).getOrElse("?"), span)
    }.toMap
    val stageOwner = mutable.Map.empty[(Int, Int), Trace.Job]
    ev.jobs.foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate((j.ctx, s), j)))

    val moduleIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    def interval(m: String, s: Long, e: Long) =
      moduleIntervals.getOrElseUpdate(m, mutable.ArrayBuffer.empty) += ((s, e))
    execInfo.values.foreach { case (x, module, site, span) =>
      interval(module, span.startMs, span.endMs)
      val st = sites.getOrElseUpdate(site, new Site(module))
      st.execs += 1; st.wallS += (span.endMs - span.startMs) / 1000.0
      if (module == "sources.Sinks") {
        add("sources.Sinks.files_written", x.driverMetrics("number of written files").toDouble)
        add("sources.Sinks.output_mb", x.driverMetrics("written output") / MB)
      }
    }
    ev.jobs.foreach { j =>
      val exec = j.execId.flatMap(id => execInfo.get((j.ctx, id)))
      val frame = graftFrame(j.site)
      val module =
        if (j.streaming) StreamModule
        else exec.map(_._2).orElse(frame.map(_._1)).getOrElse("other")
      val site = exec.map(_._3).orElse(frame.map(_._2)).getOrElse("?")
      val jEnd = end(j.startMs, j.endMs)
      spans += Span(spans.size, exec.map(_._4.id).getOrElse(spanOf(j.startMs).id), "job",
        s"${j.ctx}/${j.id}", j.startMs, jEnd)
      if (exec.isEmpty) interval(module, j.startMs, jEnd)
      add(s"$module.jobs", 1)
      val st = sites.getOrElseUpdate(site, new Site(module))
      st.jobs += 1
      j.stageIds.map(s => (j.ctx, s)).filter(k => stageOwner(k) eq j).flatMap(k => ev.stages.get(k)).foreach { s =>
        add(s"$module.stages", 1)
        add(s"$module.tasks", s.tasks)
        add(s"$module.task_s", s.runMs / 1000.0)
        add(s"$module.gc_s", s.gcMs / 1000.0)
        add(s"$module.shuffle_mb", s.shuffleBytes / MB)
        add(s"$module.spill_mb", s.spillBytes / MB)
        add("pass.tasks", s.tasks)
        add("pass.task_s", s.runMs / 1000.0)
        st.tasks += s.tasks; st.taskS += s.runMs / 1000.0
      }
    }
    moduleIntervals.foreach { case (m, iv) => out(s"$m.wall_s") = covered(iv.toSeq) / 1000.0 }

    val wallS = (passSpan.endMs - passSpan.startMs) / 1000.0
    out("pass.jobs") = ev.jobs.size
    out("pass.driver_gap_s") =
      wallS - covered(ev.jobs.map(j => (j.startMs, end(j.startMs, j.endMs)))) / 1000.0
    out("pass.session_s") = ev.contexts.map { c =>
      val m = spanOf(c.readyMs)
      (c.readyMs - m.startMs + (if (c.endMs > 0) m.endMs - c.endMs else 0L)) / 1000.0
    }.sum
    out("pass.core_util") = out("pass.task_s") / (wallS * cores)

    val S = StreamModule
    ev.queries.foreach { q =>
      val ps = q.progress.sortBy(_.batchId)
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
      add(s"$S.batches", ps.size)
      add(s"$S.empty_batches", ps.count(_.numInputRows == 0))
      ps.headOption.foreach { p =>
        add(s"$S.start_s", (java.time.Instant.parse(p.timestamp).toEpochMilli -
          java.time.Instant.parse(q.startedIso).toEpochMilli) / 1000.0)
      }
      add(s"$S.add_batch_s", dur("addBatch"))
      add(s"$S.query_planning_s", dur("queryPlanning"))
      add(s"$S.wal_commit_s", dur("walCommit"))
      add(s"$S.commit_offsets_s", dur("commitOffsets"))
      add(s"$S.latest_offset_s", dur("latestOffset"))
      val ops = ps.map(_.stateOperators.toSeq)
      add(s"$S.state_commit_s", ops.flatten.map(_.commitTimeMs).sum / 1000.0)
      add(s"$S.state_stores", (0L +: ops.map(_.map(_.numStateStoreInstances).sum)).max.toDouble)
      add(s"$S.state_rows", ops.lastOption.map(_.map(_.numRowsTotal).sum).getOrElse(0L).toDouble)
      add(s"$S.state_mb", ops.lastOption.map(_.map(_.memoryUsedBytes).sum).getOrElse(0L).toDouble / MB)
      add(s"$S.late_rows_dropped", ops.flatten.map(_.numRowsDroppedByWatermark).sum.toDouble)
    }
    out.toMap
  }
}
