package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.ChangeEvent

/** Benchmark entry point. One JVM, `local[4]`, one closed-loop client (this
  * thread). Usage:
  *
  *   Main --workload <trickle_mor|query_suite> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --data <corpus dir>
  *        [--pin <fingerprint file to write>]
  *
  * Prints a detail line (`{"detail": ...}`) and, as the last stdout line,
  * the result object `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Exits 1 when any output check failed. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, pin: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), kv.get("pin"))
  }

  val Cores = 4

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"cdcbench-${a.workload}")
      // shuffle scratch on disk under the work dir; the context cleaner's
      // periodic GC lets finished shuffles be deleted during long runs
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.cleaner.periodicGC.interval", "15s")
      .config("spark.sql.shuffle.partitions", Cores * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed CPU-only loop: marks how healthy the host was during the run. */
  def calib(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 50000000) { h = graft.cdc.Det.splitmix64(h + i); i += 1 }
    if (h == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val spark = session(a)
    val env = new Env(spark, a, (System.nanoTime() - t0) / 1e9)
    val r = a.workload match {
      case "trickle_mor" => Trickle.run(env)
      case "query_suite" => Suite.run(env)
      case w => sys.error(s"unknown workload '$w'")
    }
    val tWork = System.nanoTime()
    r.detail("host.calib_s") = calib()
    r.detail("seed") = a.seed
    if (a.trace) {
      // the traced run's own end-to-end figures: compared with an untraced
      // run's, they give the tracing overhead
      r.e2e.foreach { case (k, (v, _)) => r.detail(s"traced.$k") = v }
      Kernels.run(env, r)
      Layers.fill(env, r)
    }
    val tTrace = System.nanoTime()
    spark.streams.active.foreach(_.stop())
    spark.stop()
    r.detail("run.workload_s") = (tWork - t0) / 1e9
    r.detail("run.trace_s") = (tTrace - tWork) / 1e9
    r.detail("run.stop_s") = (System.nanoTime() - tTrace) / 1e9
    val metrics = if (a.trace) r.layer else r.e2e
    println(Json.obj("detail" -> r.detail))
    println(Json.obj("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
    System.out.flush()
    sys.exit(if (r.failed == 0) 0 else 1)
  }
}

/** What a workload run shares: the session, the spans of the benchmark's
  * own calls, the progress channel and (traced runs) the job log. */
final class Env(val spark: SparkSession, val args: Main.Args, val sessionS: Double) {
  val spans = new Spans
  val progress = new Progress
  spark.streams.addListener(progress)
  val jobs: Option[JobLog] =
    if (args.trace) {
      val l = new JobLog(new java.io.File(s"${args.work}/spark-local"))
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val rng = new scala.util.Random(args.seed)
  var windowStartMs, windowEndMs = 0L
  /** Streaming epochs applied in the timed window. */
  val epochs = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  /** Change-log bytes applied in the timed window. */
  var appliedBytes = 0L
  /** Workload operations (beats, passes) in the timed window. */
  var opsInWindow = 0

  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(args.work, name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Time a benchmark-side call; its Spark jobs are tagged with `name`. */
  def op[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobLog.OpKey, name)
    try spans.time(name)(f) finally sc.setLocalProperty(JobLog.OpKey, null)
  }

  def startWindow(): Unit = {
    spans.clear()
    windowStartMs = System.currentTimeMillis()
    jobs.foreach(_.on = true)
  }
  def endWindow(): Unit = {
    windowEndMs = System.currentTimeMillis()
    jobs.foreach(_.on = false)
  }
  def elapsedS: Double = (System.currentTimeMillis() - windowStartMs) / 1e3
}

/** Metrics and checks of one run. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** Count one operation; a failed check counts it as failed. */
  def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[cdcbench] MISMATCH: $what") }
  }
  def tail(prefix: String, xs: Seq[Double]): Double = {
    val (v, pct, n) = Stat.tail(xs)
    detail(s"$prefix.tail_pct") = pct
    detail(s"$prefix.samples") = n
    v
  }
}

/** Row-content checks of a CDC table against a driver-side reference. */
object StateCheck {
  val sep = "\u0001"
  val nul = "\u0000"
  val dataCols = Seq("repo", "path", "commit", "lang", "content", "branch", "size_bytes")

  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  def canonical(e: ChangeEvent): String =
    Seq(e.repo, e.path, e.commit, e.lang, e.content, e.branch,
      Option(e.sizeBytes).map(_.toString).orNull).map(v => if (v == null) nul else v).mkString(sep)

  /** Compare every live row, by per-row sha256 of its data columns, with
    * the reference winners (deletes excluded). Returns mismatch count. */
  def mismatches(state: DataFrame, live: Map[(String, String, String), ChangeEvent]): Long = {
    val cols = dataCols.map(c =>
      if (state.columns.contains(c)) coalesce(col(c).cast("string"), lit(nul)) else lit(nul))
    val got = state.select(col("repo"), col("path"), col("commit"),
      sha2(concat_ws(sep, cols: _*), 256)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3)).toMap
    val missingOrWrong = live.count { case (k, e) => !got.get(k).contains(sha256(canonical(e))) }
    missingOrWrong + got.keySet.count(k => !live.contains(k))
  }

  /** LWW fold of one event into a reference map (max lsn, then op priority). */
  def fold(m: mutable.HashMap[(String, String, String), ChangeEvent], e: ChangeEvent): Unit = {
    val k = (e.repo, e.path, e.commit)
    m.get(k) match {
      case Some(c) if c.lsn > e.lsn || (c.lsn == e.lsn &&
          ChangeEvent.opPriority(c.op) >= ChangeEvent.opPriority(e.op)) => ()
      case _ => m(k) = e
    }
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}")
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}
