package perfbench

/** Per-layer numbers of a traced run, from the spans, the Spark listener
  * and the traced table. Each number is the median over the workload's
  * main operations (one `runRollup`, one `applyDelta`, one query) unless
  * its name says otherwise; a layer the workload does not reach reads 0.
  *
  * Spark work is attributed to a layer through the SQL execution it ran
  * in: a write execution by its output path (`tier=<t>/` or a refresh
  * stage dir `<tag>-<t>-r<n>` is the rollup tier, `chunks-` the Gorilla
  * encode, `index-` the delta index), an execution that writes nothing
  * (the `persist` + `count` of a checkpoint unit, the row-count collect of
  * a refresh stage) by the write execution nearest to it in time.
  */
object Analysis {
  private val TierPath = """(?:tier=|-)(15min|30min|1h|1d)(?:/|-r\d+)""".r.unanchored

  private def classify(x: ExecRec): Option[String] = x.outPath.map {
    case p if p.contains("chunks-") => "chunk.encode_s"
    case p if p.contains("index-") => "chunk.index_s"
    case TierPath(t) => s"rollup.${t}_s"
    case _ => "other_s"
  }

  /** Total length of the union of [start, end) intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def perLayer(workload: String, tr: Tracer, rec: SparkRecorder, out: Outcome)
      : Seq[(String, Double, String)] = {
    val spans = tr.spans.toSeq
    val children = spans.groupBy(_.parent)
    def under(s: Span): Seq[Span] = {
      val kids = children.getOrElse(s.id, Nil)
      kids ++ kids.flatMap(under)
    }
    val jobs = rec.synchronized(rec.jobs.values.toSeq)
    val execs = rec.synchronized(rec.execs.toMap)
    val jobsByExec = jobs.groupBy(_.execId)

    /** Numbers of one operation span. */
    def opNumbers(s: Span): Map[String, Double] = {
      val inside = under(s)
      val ids = inside.map(_.id).toSet + s.id
      val js = jobs.filter(j => ids.contains(j.span))
      val busy = unionMs(js.map(j => (j.startMs, j.endMs))) / 1e3
      val wall = s.seconds
      val xs = js.map(_.execId).filter(_ >= 0).distinct.flatMap(execs.get)
      val writes = xs.filter(_.outPath.isDefined)
      def nearestWrite(x: ExecRec): Option[ExecRec] =
        if (writes.isEmpty) None
        else Some(writes.minBy(w => math.max(0L,
          math.max(w.startMs - x.endMs, x.startMs - w.endMs))))
      val cls = xs.map(x => x -> (classify(x).orElse(nearestWrite(x).flatMap(classify))
        .getOrElse("other_s"))).toMap
      // jobs outside any recorded execution (file listing, RDD actions)
      val loose = js.filter(j => !execs.contains(j.execId)).map("other_s" -> _)
      val busyBy = (xs.flatMap(x => jobsByExec.getOrElse(x.id, Nil).map(cls(x) -> _)) ++ loose)
        .groupMap(_._1)(_._2)
        .map { case (k, g) => k -> unionMs(g.map(j => (j.startMs, j.endMs))) / 1e3 }
      def named(n: String) = inside.filter(_.name == n)
      // table self time: outermost table spans only (drop reads inside)
      val tableTop = inside.filter(t => t.name.startsWith("table.") &&
        !spans.exists(p => p.id == t.parent && p.name.startsWith("table.")))
      val tableS = tableTop.map(_.seconds).sum
      val widest = js.flatMap(_.stages).flatMap(st => rec.stageTaskMs.get(st))
        .sortBy(ts => (-ts.size, -ts.sum)).headOption
      val skew = widest.map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }.getOrElse(0.0)
      val counts = tr.counts.filter(c => ids.contains(c._1))
      def counted(n: String) = counts.filter(_._2 == n).map(_._3).sum.toDouble
      val taskS = js.map(_.taskMs).sum / 1e3
      val layerBusy = busyBy.values.sum
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.driver_gap_s" -> (wall - busy),
        "spark.task_s" -> taskS,
        "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "spark.task_gc_s" -> js.map(_.gcMs).sum / 1e3,
        "spark.slot_util" -> taskS / (wall * 4),
        "spark.task_skew" -> skew,
        "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
        "spark.input_bytes" -> js.map(_.inputBytes).sum.toDouble,
        "spark.input_records" -> js.map(_.inputRecords).sum.toDouble,
        "pipeline.self_s" -> math.max(0.0, wall - busy - tableS),
        "checkpoint.units" -> writes.size.toDouble,
        // executions that write nothing, counted where something is written
        "checkpoint.extra_actions" ->
          (if (writes.isEmpty) 0.0 else xs.count(_.outPath.isEmpty).toDouble),
        "table.commits" -> named("table.commit").size.toDouble,
        "table.commit_s" -> named("table.commit").map(_.seconds).sum,
        "table.snapshot_reads" ->
          (named("table.currentPartitions") ++ named("table.partitionsAt")).size.toDouble,
        "table.snapshot_read_s" ->
          (named("table.currentPartitions") ++ named("table.partitionsAt")).map(_.seconds).sum,
        "table.snapshot_bytes" -> counted("table.snapshot_bytes"),
        "table.self_s" -> tableS,
        "table.write_rows" -> writes.map(_.writeRows).sum.toDouble,
        "table.write_bytes" -> writes.map(_.writeBytes).sum.toDouble,
        "table.write_files" -> writes.map(_.writeFiles).sum.toDouble,
        "rollup.rows_out" -> writes.filter(w => classify(w).exists(_.startsWith("rollup.")))
          .map(_.writeRows).sum.toDouble,
        "chunk.decode_s" -> xs.filter(_.decodedPoints > 0).map(_.durNs).sum / 1e9,
        "chunk.points_decoded" -> xs.map(_.decodedPoints).sum.toDouble,
        "plans.chunk_rows_scanned" -> xs.map(_.chunkRowsRead).sum.toDouble,
        "plans.chunk_rows_kept" -> xs.map(_.chunkRowsKept).sum.toDouble,
        "gapfill.rows_out" -> counted("query.rows"),
        "retention.dirs_deleted" -> counted("retention.dirs_deleted"),
        "retention.sweep_s" -> named("pipeline.sweepRaw").map(_.seconds).sum,
        "retention.expire_s" -> named("retention.expire").map(_.seconds).sum,
        "trace.closure" -> (if (wall > 0) (layerBusy + (wall - busy)) / wall else 0.0)
      ) ++ busyBy.filter(_._1 != "other_s") + ("spark.other_s" -> busyBy.getOrElse("other_s", 0.0))
    }

    def medians(ss: Seq[Span]): Map[String, Double] = {
      val per = ss.map(opNumbers)
      per.flatMap(_.keys).distinct.map(k => k -> Stats.median(per.map(_.getOrElse(k, 0.0)))).toMap
    }

    val main = medians(spans.filter(s => out.isOp(s.name)))

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (k <- PerLayer.names) m(k) = main.getOrElse(k, 0.0)
    workload match {
      case "rollup_build" =>
        m("checkpoint.units_skipped") = out.layer("checkpoint.units_skipped")
        m("checkpoint.redo_units") = out.layer("checkpoint.redo_units")
      case "tier_query" =>
        val chunkQ = medians(spans.filter(_.name == "query.chunk_window"))
        for (k <- Seq("chunk.decode_s", "chunk.points_decoded", "plans.chunk_rows_scanned"))
          m(k) = chunkQ.getOrElse(k, 0.0)
        val total = out.layer("plans.chunk_rows_total")
        m("plans.chunk_rows_total") = total
        m("plans.prune_ratio") =
          if (total > 0) 1.0 - chunkQ.getOrElse("plans.chunk_rows_kept", 0.0) / total else 0.0
        m("gapfill.s") = Stats.median(spans.filter(_.name == "query.gapfill").map(_.seconds))
        m("gapfill.rows_out") =
          medians(spans.filter(_.name == "query.gapfill")).getOrElse("gapfill.rows_out", 0.0)
        for (k <- Seq("tier_range", "gapfill", "chunk_window", "time_travel"))
          m(s"query.$k.p50_ms") = out.layer.getOrElse(s"query.$k.p50_ms", 0.0)
      case _ =>
    }
    val retention = medians(spans.filter(_.name == "retention.cycle"))
    for (k <- Seq("retention.sweep_s", "retention.expire_s", "retention.dirs_deleted"))
      m(k) = retention.getOrElse(k, 0.0)
    m("chunk.bytes_per_point") = out.layer("chunk.bytes_per_point")
    m("trace.op_p50_ms") = Stats.median(out.opMs)
    m("trace.aux_ms") = out.auxMs
    PerLayer.names.map(k => (k, m(k), PerLayer.unit(k)))
  }
}

/** The per-layer metrics every traced run reports, in order, with units. */
object PerLayer {
  val names: Seq[String] = Seq(
    "spark.jobs", "spark.driver_gap_s", "spark.task_s", "spark.task_cpu_s", "spark.task_gc_s",
    "spark.slot_util", "spark.task_skew", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.input_bytes", "spark.input_records", "spark.other_s",
    "pipeline.self_s",
    "checkpoint.units", "checkpoint.extra_actions", "checkpoint.units_skipped",
    "checkpoint.redo_units",
    "table.commits", "table.commit_s", "table.snapshot_reads", "table.snapshot_read_s",
    "table.snapshot_bytes", "table.self_s", "table.write_rows", "table.write_bytes",
    "table.write_files",
    "rollup.15min_s", "rollup.30min_s", "rollup.1h_s", "rollup.1d_s", "rollup.rows_out",
    "chunk.encode_s", "chunk.index_s", "chunk.bytes_per_point", "chunk.decode_s",
    "chunk.points_decoded",
    "plans.chunk_rows_scanned", "plans.chunk_rows_total", "plans.prune_ratio",
    "gapfill.s", "gapfill.rows_out",
    "retention.sweep_s", "retention.expire_s", "retention.dirs_deleted",
    "query.tier_range.p50_ms", "query.gapfill.p50_ms", "query.chunk_window.p50_ms",
    "query.time_travel.p50_ms",
    "trace.closure", "trace.op_p50_ms", "trace.aux_ms")

  def unit(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_s") || n == "gapfill.s") "s"
    else if (n.endsWith("_bytes") || n == "table.snapshot_bytes") "bytes"
    else if (n.endsWith("bytes_per_point")) "bytes/point"
    else if (n.endsWith("_records") || n.startsWith("plans.chunk_rows") || n.endsWith("rows_out")
      || n.endsWith("_rows") || n.endsWith("points_decoded")) "rows"
    else if (Set("spark.slot_util", "spark.task_skew", "plans.prune_ratio", "trace.closure")(n))
      "ratio"
    else "count"
}
