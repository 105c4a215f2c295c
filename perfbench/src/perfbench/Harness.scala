package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, one Spark session on `local[threads]`,
  * one client thread issuing operations in a closed loop (each waits
  * for the previous one to return). It drives the engine only through
  * its public functions and writes raw per-op records to
  * `<run-dir>/result.json`; `perfbench/run.py` turns them into metrics.
  *
  * {{{
  * Harness --workload fia_delivery --seed 1 --seconds 15 --trace 0
  *         --threads 4 --root . --run-dir .bench_build/runs/x --trace-file f.jsonl
  * }}}
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors()
    val threads = a.get("threads").map(_.toInt).getOrElse(nproc)
    require(threads <= nproc,
      s"refusing to start: $threads Spark threads on a host with $nproc processors")
    val runDir = new java.io.File(a("run-dir")).getAbsoluteFile
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(threads)
      .config("spark.local.dir", new java.io.File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Run(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", runDir, secs(t0))
    try {
      val w: Workload = ctx.workload match {
        case "fia_build" => new FiaBuild(ctx)
        case "fia_delivery" => new FiaDelivery(ctx)
        case "lakehouse_mixed" => new LakehouseMixed(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val tRun = System.nanoTime()
      w.run()
      ctx.facts("workload_s") = secs(tRun)
      if (ctx.workload.startsWith("fia")) writeOracleSql(a("root"), new java.io.File(runDir, "oracle.sql"))
      if (ctx.traceOn) a.get("trace-file").foreach(f =>
        ctx.tracer.writeSpans(new java.io.File(f)))
      ctx.writeResult(new java.io.File(runDir, "result.json"),
        Map("threads" -> threads, "nproc" -> nproc,
          "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
    } catch {
      case e: Throwable => spark.stop(); throw e
    }
    // the result is on disk and the caller deletes the run directory:
    // skip Spark's orderly shutdown (~2 s of every run)
    Runtime.getRuntime.halt(0)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The composed-pipeline DuckDB oracle with its raw-input directory
    * left as `@IN@` and its reference tables read from this checkout. */
  private def writeOracleSql(root: String, f: java.io.File): Unit = {
    graft.fia.SyntheticState.currentOracleInputDir = "@IN@"
    val sql = graft.QueriesFiaPipeline.oracleSql.replaceAll(
      "'[^']*(/src/main/resources/graft/refdata)",
      "'" + java.util.regex.Matcher.quoteReplacement(root) + "$1")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(sql) finally w.close()
  }
}

/** A workload: builds its inputs from the seed, warms up, then issues
  * operations until the measured time reaches `seconds`. */
trait Workload {
  def run(): Unit
}

/** Shared state of one benchmark run. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val traceOn: Boolean, val dir: java.io.File,
    val sessionS: Double) {
  val tracer = new Tracer(spark, traceOn)
  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val stageS = mutable.ArrayBuffer.empty[Double]
  var warmupS = 0.0
  val facts = mutable.LinkedHashMap.empty[String, Any]
  private var measuredMs = 0.0

  def path(rel: String): String = new java.io.File(dir, rel).getPath

  /** Rounds (one op, or one wave of ops) started so far. */
  private var rounds = 0

  /** Start the next round if the measured time is below the run length;
    * a traced run always does two, the first traced and the second not,
    * so the run itself measures the tracing overhead. */
  def nextRound(): Boolean = {
    val go = measuredMs < seconds * 1000 || (traceOn && rounds < 2)
    if (go) { rounds += 1; traceNext = traceOn && rounds % 2 == 1 }
    go
  }
  private var traceNext = false

  /** Time one operation; record it. `body` gets whether this op is
    * traced (a traced op forces each layer boundary). The check fields
    * are filled in by the caller (`ok`/`why`) or by run.py (`check`).
    * An op inside [[warmup]] is checked but is no latency sample; in a
    * traced run it is traced. */
  def op[T](kind: String, verb: String)(body: Boolean => T)
      : (T, mutable.LinkedHashMap[String, Any]) = {
    val idx = ops.size
    val traced = traceOn && (warming || traceNext)
    val t0 = System.nanoTime()
    val r = if (traced) tracer.operation(idx, kind)(body(true)) else body(false)
    val ms = (System.nanoTime() - t0) / 1e6
    if (!warming) measuredMs += ms
    val rec = mutable.LinkedHashMap[String, Any](
      "op" -> idx, "kind" -> kind, "verb" -> verb, "ms" -> ms, "traced" -> traced,
      "warmup" -> warming, "ok" -> true, "why" -> "")
    ops += rec
    (r, rec)
  }

  def fail(rec: mutable.LinkedHashMap[String, Any], why: String): Unit = {
    rec("ok") = false; rec("why") = why
  }

  /** Time a set-up step (repeated set-ups report their median). */
  def stage[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    stageS += Harness.secs(t0)
    r
  }

  /** One-time set-up and warm-up work, counted in `setup_s`. */
  def warmup[T](body: => T): T = {
    val t0 = System.nanoTime()
    warming = true
    try body
    finally { warming = false; warmupS += Harness.secs(t0) }
  }
  private var warming = false

  def writeResult(f: java.io.File, env: Map[String, Any]): Unit = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(0.0) finally status.close()
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceOn,
      "env" -> env, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "stage_s" -> stageS.toSeq, "peak_rss_mb" -> hwmKb / 1024.0,
      "facts" -> facts.toMap, "ops" -> ops.map(_.toMap).toSeq)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(Json.write(out)) finally w.close()
  }
}

object Files {
  /** Bytes under `dir`, each inode counted once (snapshots share data
    * files through hard links). */
  def bytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return 0L
    val seen = mutable.Set.empty[Any]
    var total = 0L
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (java.nio.file.Files.isRegularFile(p)) {
        val ino = java.nio.file.Files.getAttribute(p, "unix:ino")
        if (seen.add(ino)) total += java.nio.file.Files.size(p)
      }
    }
    total
  }

  def delete(dir: String): Unit =
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
}
