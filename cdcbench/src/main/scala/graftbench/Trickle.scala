package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.Trigger
import graft.cdc._
import graft.lake._

/** Lake-table probes the workloads share. */
object Lake {
  /** `LakeTable.metaAt`, timed, with the table's live/delta file counts and
    * metadata size recorded as samples. */
  def probe(env: Env, root: String): TableMeta = {
    val m = env.spans.time("lake.meta_load")(LakeTable.metaAt(root))
    val files = m.currentSnapshot.map(_.files).getOrElse(Nil)
    env.spans.add("lake.files_live", files.size)
    env.spans.add("lake.delta_files", files.count(_.isDelta))
    env.spans.add("lake.meta_kb", bytesUnder(s"$root/metadata") / 1024.0)
    m
  }

  def bytesUnder(dir: String): Long = JobLog.du(new java.io.File(dir))
}

/** `trickle_mor`: a base table loaded through the stream, then a closed
  * loop of beats. Each beat publishes one 5120-event file atomically into
  * the watched log directory, waits for `CdcPipeline.start`'s
  * ProcessingTime query (merge-on-read, fold every 8 epochs) to commit it,
  * then runs 4 SQL point lookups by full key and 1 SQL full-table aggregate
  * through the `graft` catalog. The op is the beat's freshness (rename to
  * epoch done); the rate is events per second of beat time (freshness plus
  * reads). The timed window covers whole fold cycles only: 8 consecutive
  * epochs, one of which folds. */
object Trickle {
  val BaseEvents = 12L * 1024 // whole 1024-event arrival-jitter blocks
  val BeatEvents = 5120L
  val FoldEvery = 8
  val MaxBeats = 17 // one warm-up beat and two fold cycles
  val Buckets = 8
  val SetupReps = 3
  val WarmBeats = 1
  val TriggerMs = 25L
  val Ns = "bench"
  type Key = (String, String, String)

  def run(env: Env): Result = {
    import env._
    val r = new Result
    val total = BaseEvents + MaxBeats * BeatEvents
    // every schema bump lands inside the base load
    val cfg = graft.BenchJobs.genConfig(total).copy(seed = args.seed,
      schemaBumps = Seq(0.25, 0.5, 0.75).map(_ * BaseEvents / total))
    val base = dir("trickle")
    val cat = new LakeCatalog(spark, s"${args.work}/warehouse")

    def writeEvents(from: Long, until: Long, files: Int, out: String): Unit =
      CdcPipeline.envelopeDf(spark.range(from, until, 1, files).mapPartitions { it =>
        it.map(a => ChangeLogGen.eventAt(cfg, ChangeLogGen.arrivalToSource(cfg, a)))
      }(org.apache.spark.sql.Encoders.product[ChangeEvent])).write.mode("overwrite").parquet(out)

    // set-up, several times: generate the base log, load it through a fresh
    // stream (epoch 0) and fold it into base files; the last repetition's
    // stream keeps running
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    var table: LakeTable = null
    var logDir = ""
    val setups = (1 to SetupReps).map { i =>
      if (query != null) query.stop()
      val t0 = System.nanoTime()
      logDir = s"$base/log$i"
      writeEvents(0, BaseEvents, 4, logDir)
      if (cat.listNamespaces().isEmpty) cat.createNamespace(Ns)
      table = cat.createTable(Ns, s"files$i", CdcPipeline.baseTableSchema,
        ChangeEvent.keyCols, numBuckets = Buckets)
      progress.clear()
      query = CdcPipeline.start(spark, logDir, table, s"$base/ckpt$i",
        trigger = Trigger.ProcessingTime(TriggerMs), delta = true, foldEvery = FoldEvery)
      progress.next(120)
      table.foldDeltas()
      (System.nanoTime() - t0) / 1e9
    }
    r.e2e("setup_s") = (sessionS + Stat.median(setups), "s")
    r.detail("setup.reps_s") = setups
    val sqlTable = s"graft.$Ns.files$SetupReps"

    // beat files, staged outside the watched directory
    val t0 = System.nanoTime()
    val staged = s"$base/staged"
    writeEvents(BaseEvents, total, MaxBeats, staged)
    val beatFiles = Files.list(Paths.get(staged)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
    require(beatFiles.size == MaxBeats, s"expected $MaxBeats staged beat files")
    r.detail("stage_beats_s") = (System.nanoTime() - t0) / 1e9

    // driver-side reference: LWW winners (deletes kept, to look them up too)
    val ref = mutable.HashMap.empty[Key, ChangeEvent]
    var i = 0L
    while (i < BaseEvents) { StateCheck.fold(ref, ChangeLogGen.eventAt(cfg, i)); i += 1 }
    val keys = mutable.ArrayBuffer.empty[Key] ++= ref.keys

    var beat = 0
    var epoch = 0L // the base load was epoch 0
    val fresh = mutable.ArrayBuffer.empty[Double]
    val beatS = mutable.ArrayBuffer.empty[Double]
    def reads(recent: Seq[Key]): Double = {
      val ks = Seq.fill(2)(recent(rng.nextInt(recent.size))) ++ Seq.fill(2)(keys(rng.nextInt(keys.size)))
      ks.map(k => lookup(env, r, sqlTable, k, ref.get(k).filter(_.op != "D"))).sum +
        scan(env, r, sqlTable, ref.valuesIterator.filter(_.op != "D").toSeq)
    }
    def doBeat(timed: Boolean): Unit = {
      val f = beatFiles(beat)
      val target = Paths.get(logDir, f"beat-$beat%04d.parquet")
      val t0 = System.nanoTime()
      Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
      val p = progress.next(120)
      val fs = (System.nanoTime() - t0) / 1e9
      epoch += 1
      r.attempt(p.batchId == epoch, s"beat $beat applied as epoch ${p.batchId}, not $epoch")
      appliedBytes += Files.size(target)
      epochs += p
      val m = Lake.probe(env, table.root)
      r.attempt(m.epochCommitted(epoch), s"beat $beat: epoch $epoch not visible")

      // reference update (untimed), then the reads
      val from = BaseEvents + beat * BeatEvents
      val beatKeys = (from until from + BeatEvents).map { j =>
        val e = ChangeLogGen.eventAt(cfg, j)
        val k = (e.repo, e.path, e.commit)
        if (!ref.contains(k)) keys += k
        StateCheck.fold(ref, e)
        k
      }
      if (timed) {
        val readS = reads(beatKeys)
        fresh += fs
        beatS += fs + readS
      }
      beat += 1
    }

    // warm-up: beats that merge against stored state, and one round of
    // reads; then whole fold cycles (any FoldEvery consecutive epochs hold
    // exactly one fold)
    (1 to WarmBeats).foreach(_ => doBeat(timed = false))
    reads(keys.toSeq)
    epochs.clear()
    appliedBytes = 0L
    startWindow()
    while (fresh.isEmpty || (elapsedS < args.seconds && beat + FoldEvery <= MaxBeats))
      (1 to FoldEvery).foreach(_ => doBeat(timed = true))
    endWindow()
    query.stop()
    opsInWindow = fresh.size

    r.e2e("op_p50_s") = (Stat.median(fresh.toSeq), "s")
    r.detail("op_tail_s") = r.tail("op", fresh.toSeq)
    r.e2e("rate_per_s") = (BeatEvents * fresh.size / beatS.sum, "1/s")
    r.detail("freshness_p50_s") = Stat.median(fresh.toSeq)
    r.detail("lookup_p50_s") = Stat.median(spans("lookup"))
    r.detail("lookup_tail_s") = r.tail("lookup", spans("lookup"))
    r.detail("scan_p50_s") = Stat.median(spans("scan"))
    r.detail("beats") = fresh.size

    val live = ref.filter(_._2.op != "D").toMap
    val bad = StateCheck.mismatches(table.currentState(), live)
    r.attempt(bad == 0, s"$bad rows differ from the driver-side reference")
    r.detail("live_rows") = live.size
    r
  }

  /** One SQL point lookup by full key, checked against the reference. */
  def lookup(env: Env, r: Result, table: String, k: Key, want: Option[ChangeEvent]): Double = {
    val t0 = System.nanoTime()
    val rows = env.op("lookup") {
      val df = env.spark.sql(s"SELECT lang, content, branch, size_bytes FROM $table " +
        s"WHERE repo = '${k._1}' AND path = '${k._2}' AND commit = '${k._3}'")
      env.spans.time("lookup.plan")(df.queryExecution.executedPlan)
      val out = env.spans.time("lookup.exec")(df.collect())
      env.spans.add("lookup.files", plannedFiles(df))
      out
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val got = rows.map(x => (x.getString(0), x.getString(1), x.getString(2),
      Option(x.get(3)).map(_.toString).orNull)).toSeq
    val exp = want.map(e => (e.lang, e.content, e.branch,
      Option(e.sizeBytes).map(_.toString).orNull)).toSeq
    r.attempt(got == exp, s"lookup $k returned ${got.size} row(s) not matching the reference")
    sec
  }

  /** One SQL full-table aggregate, checked against the reference. */
  def scan(env: Env, r: Result, table: String, live: Seq[ChangeEvent]): Double = {
    val t0 = System.nanoTime()
    val row = env.op("scan")(env.spark.sql(
      s"SELECT count(*), sum(length(content)) FROM $table").head())
    val sec = (System.nanoTime() - t0) / 1e9
    val want = (live.size.toLong, live.map(_.content.length.toLong).sum)
    r.attempt((row.getLong(0), row.getLong(1)) == want,
      s"scan returned (${row.getLong(0)}, ${row.getLong(1)}), expected $want")
    sec
  }

  /** Data files the lake scan planned to read (GraftScan's driver metric). */
  def plannedFiles(df: org.apache.spark.sql.DataFrame): Double = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case other => other +: other.children.flatMap(all)
    }
    all(df.queryExecution.executedPlan).flatMap(_.metrics.get("plannedFiles"))
      .map(_.value.toDouble).sum
  }
}
