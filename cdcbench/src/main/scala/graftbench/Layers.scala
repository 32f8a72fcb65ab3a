package graftbench

/** Per-layer metrics of a traced run, from the benchmark's spans, the
  * streaming progress of the window's epochs and the job log. Times and
  * bytes are per epoch (cdc, stream, lake), per read (sql), per query
  * (ops) or per workload op — beat or suite pass — (spark). A layer
  * the workload does not exercise reports 0. */
object Layers {
  val Mb = 1024.0 * 1024.0
  val HeavyQueries = Seq("q21", "q45", "q61", "q40", "q30", "q76", "q78", "q62", "q63",
    "q80", "q26", "q27", "q28", "q35", "q64", "q66")
  val Families = Seq("Relational", "Event", "Text", "Dedup", "Similarity", "Multimodal",
    "Catalog", "Code")

  def fill(env: Env, r: Result): Unit = {
    val jl = env.jobs.get
    r.detail("trace.jobs_by_category") =
      jl.finished.groupBy(_.cat.takeWhile(_ != ':')).map { case (c, js) => c -> js.size }
    val out = r.layer
    def s(name: String, v: Double) = out(name) = (v, "s")
    def mb(name: String, v: Double) = out(name) = (v, "MB")
    val mean = Stat.mean _
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stat.median(xs)

    // streaming epochs: trigger interval [start, start + triggerExecution)
    val eps = env.epochs.toSeq.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      (p, start, start + p.durationMs.get("triggerExecution").longValue)
    }
    val n = math.max(eps.size, 1)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    def busy(cat: String*)(lo: Long, hi: Long) =
      jl.busyMs(j => cat.isEmpty || cat.contains(j.cat), lo, hi) / 1e3
    def perEpoch(cat: String*) = eps.map { case (_, lo, hi) => busy(cat: _*)(lo, hi) }

    val stats = perEpoch("stats")
    val merge = perEpoch("merge")
    val fold = perEpoch("fold")
    val other = perEpoch("cdc")
    val driver = eps.map { case (p, lo, hi) => math.max(0.0, dur(p, "addBatch") - busy()(lo, hi)) }
    s("cdc.stats_s", mean(stats))
    s("cdc.epoch_driver_s", mean(driver))
    s("stream.add_batch_s", mean(eps.map(e => dur(e._1, "addBatch"))))
    s("stream.latest_offset_s", mean(eps.map(e => dur(e._1, "latestOffset"))))
    s("stream.wal_commit_s", mean(eps.map(e => dur(e._1, "walCommit"))))
    s("stream.planning_s", mean(eps.map(e => dur(e._1, "queryPlanning"))))
    if (eps.nonEmpty) {
      val parts = Seq("latestOffset", "queryPlanning", "walCommit").map(k => eps.map(e => dur(e._1, k)).sum).sum +
        stats.sum + merge.sum + fold.sum + other.sum + driver.sum
      r.detail("trace.epoch_wall_s") = eps.map(e => dur(e._1, "triggerExecution")).sum / n
      r.detail("trace.attributed_share") = parts / eps.map(e => dur(e._1, "triggerExecution")).sum
    }

    val mAcc = jl.acc("merge")
    val fAcc = jl.acc("fold")
    val folds = math.max(fold.count(_ > 0), 1)
    s("lake.merge_job_s", mean(merge))
    mb("lake.merge_read_mb", mAcc.inB / Mb / n)
    mb("lake.merge_shuffle_mb", mAcc.shufB / Mb / n)
    mb("lake.written_mb", mAcc.outB / Mb / n)
    out("lake.write_amp") = (if (env.appliedBytes == 0) 0.0
      else (mAcc.outB + fAcc.outB).toDouble / env.appliedBytes, "ratio")
    s("lake.fold_s", fold.sum / folds)
    mb("lake.fold_rewritten_mb", fAcc.outB / Mb / folds)
    out("lake.delta_files") = (mean(env.spans("lake.delta_files")), "count")
    s("lake.meta_load_s", med(env.spans("lake.meta_load")))
    out("lake.meta_kb") = (mean(env.spans("lake.meta_kb")), "KB")
    out("lake.files_live") = (mean(env.spans("lake.files_live")), "count")

    val lookups = math.max(env.spans("lookup").size, 1)
    val scans = math.max(env.spans("scan").size, 1)
    s("sql.lookup_plan_s", med(env.spans("lookup.plan")))
    s("sql.lookup_exec_s", med(env.spans("lookup.exec")))
    out("sql.lookup_files") = (mean(env.spans("lookup.files")), "count")
    mb("sql.lookup_read_mb", jl.acc("lookup").inB / Mb / lookups)
    mb("sql.scan_read_mb", jl.acc("scan").inB / Mb / scans)

    val fam = Suite.families
    val passes = math.max(env.opsInWindow, 1).toDouble
    Families.foreach { f =>
      s(s"ops.${f}_s", fam.collect { case (q, `f`) => env.spans(s"query:$q").sum }.sum / passes)
    }
    HeavyQueries.foreach { q =>
      s(s"ops.${q}_s", med(fam.keys.filter(_.startsWith(s"${q}_")).toSeq.flatMap(n => env.spans(s"query:$n"))))
    }

    val t = jl.total
    val ops = math.max(env.opsInWindow, 1).toDouble
    val windowMs = env.windowEndMs - env.windowStartMs
    s("spark.task_s", t.taskS / ops)
    s("spark.cpu_s", t.cpuS / ops)
    s("spark.gc_s", t.gcS / ops)
    mb("spark.shuffle_mb", t.shufB / Mb / ops)
    mb("spark.input_mb", t.inB / Mb / ops)
    out("spark.jobs") = (jl.finished.size / ops, "count")
    out("spark.tasks") = (t.tasks / ops, "count")
    s("spark.driver_gap_s",
      (windowMs - jl.busyMs(_ => true, env.windowStartMs, env.windowEndMs)) / 1e3 / ops)
    mb("spark.scratch_peak_mb", jl.scratchPeakB / Mb)
    s("host.calib_s", r.detail("host.calib_s").asInstanceOf[Double])
  }
}
