package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.ExecRecord

import graft.GraftSession

/** A named measurement with its unit; `note` is printed beside it. */
final case class Metric(name: String, value: Double, unit: String, note: String = "")

/** One timed operation of a workload's closed loop. `seconds` covers the
  * calls into the program only (`parts` their individual times, for an op
  * made of several calls); the correctness check that follows is not timed,
  * and a failed check makes the op not `ok`.
  */
final case class Op(kind: String, seconds: Double, ok: Boolean, error: String = "",
                    parts: Seq[Double] = Nil)

/** A seeded workload. Every input derives from the seed; `step(i)` is the
  * i-th operation of the closed loop and depends only on the seed and i, so
  * the traced run can replay exactly the ops the untraced run made.
  */
trait Workload {
  /** The op kind whose latency is reported as op_p50_s / op_tail_s. */
  def primary: String
  /** Steps in one full round of the op mix; the traced run replays whole rounds. */
  def cycle: Int
  /** Fresh warehouse / corpus from the seed; only the calls into the program
    * count toward `setup_s`, so return their duration in seconds.
    */
  def setup(): Double
  /** Untimed steps before the measured loop (JIT and codegen caches); the
    * loop continues with the step after them.
    */
  def warmupSteps: Int
  def step(i: Int, t: Tracer): Op
  /** Digest of the state the ops left behind. */
  def checksum(): String
  /** Workload-specific end-to-end metrics of an untraced loop. */
  def report(ops: Seq[Op]): Seq[Metric]
  /** Layer name of a Spark SQL execution, from its call site. */
  def classify(e: ExecRecord): String
  /** Per-layer metrics of a traced replay. */
  def layers(t: TraceData): Seq[Metric]
  /** Stop what the workload started (the HTTP server). */
  def close(): Unit = ()
}

object Workload {
  /** Time `call`, then run the untimed `check`; an exception in either makes
    * the op failed (with its time, when the call itself completed).
    */
  def runOp(kind: String)(call: => Double)(check: => Unit): Op = {
    def msg(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    try {
      val s = call
      try { check; Op(kind, s, ok = true) }
      catch { case e: Exception => Op(kind, s, ok = false, msg(e)) }
    } catch { case e: Exception => Op(kind, Double.NaN, ok = false, msg(e)) }
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)

    val cores = Runtime.getRuntime.availableProcessors().min(4).toString
    val spark = GraftSession.tune(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val wl: Workload = workload match {
        case "sync_schedule" => new SyncSchedule(spark, seed, work)
        case "warehouse_queries" => new WarehouseQueries(spark, seed, work)
        case "corpus_dedup" => new CorpusDedup(spark, seed, work)
        case other => sys.error(s"unknown workload $other")
      }
      try run(spark, wl, workload, seed, seconds, trace, out)
      finally wl.close()
    } finally spark.stop()
  }

  private def run(spark: SparkSession, wl: Workload, workload: String, seed: Long,
                  seconds: Double, trace: Boolean, out: Path): Unit = {
    val (metrics, ops, correct) =
      if (trace) traced(spark, wl, seconds, out.resolve(s"trace_${workload}_$seed.jsonl"))
      else untraced(wl, seconds)
    metrics.foreach { m =>
      println(s"metric ${m.name} ${m.value} ${m.unit}" + (if (m.note.isEmpty) "" else s" ${m.note}"))
    }
    ops.filterNot(_.ok).take(5).foreach(o => println(s"failure ${o.kind}: ${o.error.replace('\n', ' ').take(400)}"))
    val failed = ops.count(!_.ok)
    println(s"""result {"correct":${correct && failed == 0},"attempted":${ops.size},"failed":$failed}""")
  }

  private def now: Double = System.nanoTime() / 1e9

  /** Run steps until `seconds` of wall time have passed (checks included),
    * finishing the current round of `round` steps.
    */
  private def loop(wl: Workload, seconds: Double, t: Tracer, round: Int = 1): (Vector[Op], Double) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val first = wl.warmupSteps
    val t0 = now
    while (now - t0 < seconds || ops.size % round != 0) ops += wl.step(first + ops.size, t)
    (ops.toVector, now - t0)
  }

  private def warmup(wl: Workload): Unit = (0 until wl.warmupSteps).foreach(wl.step(_, Tracer.Off))

  private def untraced(wl: Workload, seconds: Double): (Seq[Metric], Seq[Op], Boolean) = {
    // set up several times: the median is steadier than one cold set-up
    val t0 = now
    val setups = (1 to 3).map(_ => wl.setup())
    val t1 = now
    warmup(wl)
    val t2 = now
    val (ops, loopS) = loop(wl, seconds, Tracer.Off)
    println(f"phases: set-ups ${t1 - t0}%.1f s, warm-up ${t2 - t1}%.1f s, loop $loopS%.1f s (wall)")
    val prim = ops.filter(_.kind == wl.primary).map(_.seconds)
    val failed = ops.count(!_.ok)
    val common = Seq(
      Metric("setup_s", Stats.median(setups), "s", s"(median of ${setups.size})"),
      Metric("op_p50_s", Stats.median(prim), "s", s"(${wl.primary}, n=${prim.size})"),
      Stats.tailMetric("op_tail_s", prim, s"${wl.primary}, "),
      Metric("ops_per_s", prim.count(!_.isNaN) / prim.filterNot(_.isNaN).sum, "1/s",
        s"(${wl.primary} ops per second spent in them)"),
      Metric("failed_ratio", failed.toDouble / ops.size.max(1), "ratio"),
      Metric("peak_rss_mb", Stats.peakRssMb, "MB"))
    println(s"final state: ${wl.checksum()}")
    (common ++ wl.report(ops), ops, true)
  }

  /** Untraced loop for half the time, then the same ops again, traced, from
    * a fresh set-up. Both must leave the same state behind; the ratio of
    * their primary-op medians is the tracing overhead.
    */
  private def traced(spark: SparkSession, wl: Workload, seconds: Double,
                     traceFile: Path): (Seq[Metric], Seq[Op], Boolean) = {
    wl.setup()
    warmup(wl)
    val (plain, _) = loop(wl, seconds / 2, Tracer.Off, wl.cycle)
    val plainDigest = wl.checksum()
    wl.setup()
    warmup(wl)
    val rec = new Recording(spark)
    val tracedOps = plain.indices.map(i => wl.step(wl.warmupSteps + i, rec))
    val tracedDigest = wl.checksum()
    val data = rec.finish(wl.classify)
    Files.write(traceFile, data.jsonLines.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
    def p50(ops: Seq[Op]) = Stats.median(ops.filter(_.kind == wl.primary).map(_.seconds))
    val same = plainDigest == tracedDigest
    val metrics = wl.layers(data) ++ Seq(
      Metric("trace.overhead_ratio", p50(tracedOps) / p50(plain) - 1, "ratio",
        s"(traced vs untraced ${wl.primary} p50 over ${plain.size} ops)"),
      Metric("trace.spans", data.spans.size, "count", s"(written to ${traceFile.getFileName})"),
      Metric("trace.same_state", if (same) 1 else 0, "bool",
        if (same) "" else s"untraced=$plainDigest traced=$tracedDigest"))
    (metrics, plain ++ tracedOps, same)
  }
}

object Stats {
  /** Median of the finite values (a failed op has no time). */
  def median(xs: Seq[Double]): Double =
    if (!xs.exists(!_.isNaN)) Double.NaN
    else {
      val s = xs.filterNot(_.isNaN).sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples. With ten or fewer samples no such
    * percentile exists and the maximum is reported, marked as such.
    */
  def tailMetric(name: String, xs: Seq[Double], what: String): Metric = {
    val s = xs.filterNot(_.isNaN).sorted
    val n = s.size
    if (n == 0) Metric(name, Double.NaN, "s", "(no samples)")
    else if (n <= 10) Metric(name, s.last, "s", s"(${what}max, n=$n: too few samples for a tail)")
    else {
      val k = n - 10
      Metric(name, s(k - 1), "s", f"(${what}p${100.0 * k / n}%.1f, n=$n, 10 beyond)")
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

