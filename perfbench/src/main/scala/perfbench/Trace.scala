package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.{ExecRecord, JobCounters, SparkCounters}

/** A span: one call into a layer. Times are epoch nanoseconds. `request`
  * groups the spans of one operation (one HTTP request, query or pass);
  * `tag` carries a detail such as the endpoint. Spans built from Spark SQL
  * executions carry the execution's plan counters in `plan`.
  */
final case class Span(id: Int, name: String, tag: String, startNs: Long,
                      endNs: Long, parent: Int, request: Int,
                      plan: Map[String, Double] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(tNs: Long): Boolean = startNs <= tNs && tNs <= endNs
}

/** Records spans around the benchmark's calls into the program. The
  * untraced run uses [[Tracer.Off]], which only runs the body.
  */
class Tracer {
  def span[T](name: String, request: Int, tag: String = "")(body: => T): T = body
}

object Tracer {
  object Off extends Tracer

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs
}

/** The traced run's recorder: spans kept in memory, plus a Spark listener
  * whose jobs and SQL executions are assigned to spans when the run ends.
  */
final class Recording(spark: SparkSession) extends Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val listener = new SparkCounters
  spark.sparkContext.addSparkListener(listener)

  override def span[T](name: String, request: Int, tag: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, tag, Tracer.nowNs, 0L, parent, request)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = Tracer.nowNs)
    }
  }

  /** Stop listening and assemble the trace. Each SQL execution becomes a
    * child span of the innermost benchmark span that contains it, named by
    * `classify`. Each Spark
    * job's task counters go to the span of its SQL execution, or else to
    * the innermost span containing its submission time: the workloads are
    * single-client, so only one call is in flight at a time.
    */
  def finish(classify: ExecRecord => String): TraceData = {
    SparkCounters.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val bench = spans.toVector
    def innermost(all: Seq[Span], tNs: Long): Option[Span] =
      all.filter(_.contains(tNs)).sortBy(s => s.endNs - s.startNs).headOption
    val execSpans = mutable.Map.empty[Long, Span]
    val all = mutable.ArrayBuffer.from(bench)
    // Spark stamps events in whole milliseconds: place an execution by its
    // midpoint and clamp it into its parent, so a parent that began within
    // the same millisecond still contains it
    listener.executions.foreach { e =>
      val mid = (e.startMs + e.endMs) * 500000L + 500000L
      innermost(bench, mid).foreach { p =>
        val s = (e.startMs * 1000000L) max p.startNs
        val t = ((e.endMs + 1) * 1000000L) min p.endNs
        val sp = Span(all.size, classify(e), e.description, s, t, p.id, p.request, e.plan)
        all += sp
        execSpans(e.id) = sp
      }
    }
    val counters = mutable.Map.empty[Int, JobCounters]
    def add(id: Int, c: JobCounters): Unit = {
      val o = counters.getOrElse(id, JobCounters(0, 0, 0, 0, 0))
      counters(id) = JobCounters(o.tasks + c.tasks, o.runMs + c.runMs,
        o.gcMs + c.gcMs, o.shuffleBytes + c.shuffleBytes, o.spillBytes + c.spillBytes)
    }
    val byId = all.toVector
    listener.jobs.foreach { j =>
      j.executionId.flatMap(execSpans.get)
        .orElse(innermost(byId, j.startMs * 1000000L + 500000L))
        .foreach { sp =>
          // inclusive: a span's counters include its descendants'
          var cur = sp.id
          while (cur >= 0) { add(cur, j.counters); cur = byId(cur).parent }
        }
    }
    TraceData(byId, counters.toMap, spark.sparkContext.defaultParallelism)
  }
}

/** An assembled trace: every span, and inclusive Spark counters per span;
  * `cores` is the Spark parallelism the counters' core utilisation uses.
  */
final case class TraceData(spans: Vector[Span], counters: Map[Int, JobCounters], cores: Int) {

  def children(s: Span): Vector[Span] = spans.filter(_.parent == s.id)

  /** Span time not covered by its children (overlaps counted once). */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { covered += (hi - lo) max 0L; lo = a; hi = b }
      else hi = hi max b
    }
    covered += (hi - lo) max 0L
    (s.endNs - s.startNs - covered) / 1e9
  }

  def counter(s: Span): JobCounters = counters.getOrElse(s.id, JobCounters(0, 0, 0, 0, 0))

  /** Spans as JSON lines: name, tag, start, end, parent, request, self time. */
  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    val c = counter(s)
    s"""{"id":${s.id},"name":${graft.JsonUtil.jstr(s.name)},"tag":${graft.JsonUtil.jstr(s.tag)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},""" +
      s""""request":${s.request},"self_s":${selfSeconds(s)},"tasks":${c.tasks},""" +
      s""""task_busy_s":${c.runMs / 1e3}}"""
  }
}

/** Per-layer aggregation. An operation is a group of spans (one request,
  * one query round, one pass); each value is the median, over operations,
  * of the per-operation total.
  */
final class Layers(t: TraceData) {
  type Group = Seq[Span]

  /** Spans named `name` inside the group (outermost matches only). */
  def within(g: Group, name: String): Vector[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def walk(s: Span): Unit = t.children(s).foreach { c => if (c.name == name) out += c else walk(c) }
    g.foreach(walk)
    out.toVector
  }

  def perOp(groups: Seq[Group])(f: Group => Double): Double = Stats.median(groups.map(f))

  /** `<name>.busy_s`: time inside spans named `name`, per operation. */
  def busy(groups: Seq[Group], name: String, metric: String = ""): Metric =
    Metric(if (metric.isEmpty) s"$name.busy_s" else metric,
      perOp(groups)(within(_, name).map(_.seconds).sum), "s")

  /** Sum of a plan counter over the spans named `name` in the group. */
  def plan(g: Group, name: String, key: String): Double =
    within(g, name).map(_.plan.getOrElse(key, 0.0)).sum

  /** Spark counters of the spans named `name`: the group's own spans when
    * they carry that name, else the matching spans inside them.
    */
  def counters(groups: Seq[Group], name: String): Seq[Metric] = {
    val perOpSpans = groups.map(g => if (g.forall(_.name == name)) g.toVector else within(g, name))
    def med(f: Vector[Span] => Double) = Stats.median(perOpSpans.map(f))
    def sum(ss: Vector[Span], f: JobCounters => Double) = ss.map(s => f(t.counter(s))).sum
    Seq(
      Metric(s"$name.tasks", med(sum(_, _.tasks.toDouble)), "count"),
      Metric(s"$name.task_busy_s", med(sum(_, _.runMs / 1e3)), "s"),
      Metric(s"$name.core_util", med { ss =>
        val wall = ss.map(_.seconds).sum
        if (wall > 0) sum(ss, _.runMs / 1e3) / (wall * t.cores) else 0.0
      }, "ratio"),
      Metric(s"$name.gc_s", med(sum(_, _.gcMs / 1e3)), "s"),
      Metric(s"$name.shuffle_bytes", med(sum(_, _.shuffleBytes.toDouble)), "B"),
      Metric(s"$name.spill_bytes", med(sum(_, _.spillBytes.toDouble)), "B"))
  }
}
