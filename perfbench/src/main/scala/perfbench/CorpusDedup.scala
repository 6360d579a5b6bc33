package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.perfbench.ExecRecord
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{DedupOps, TextOps}

/** A seeded document corpus with planted duplicates. Unrelated documents
  * draw random words from a 3000-word vocabulary, so their 5-shingle
  * Jaccard is ~0. Near-duplicate clusters are one base document plus
  * variants that each replace a single word (pairwise Jaccard >= ~0.7,
  * well above the 0.5 threshold). Exact copies differ from their original
  * only in case and whitespace. `group(id)` is the planted group of a
  * document: its near-dup cluster, or its own id.
  */
final class Corpus(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  val Stopwords: Seq[String] = Seq("the", "and", "of", "to", "in", "is", "for", "on", "with", "as")
  private val vocab = Vector.fill(3000)((1 to 3 + rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)

  private def words(n: Int) = Vector.fill(n)(
    if (rnd.nextInt(5) == 0) Stopwords(rnd.nextInt(Stopwords.size)) else vocab(rnd.nextInt(vocab.size)))

  /** (text, planted group) before ids are assigned. */
  private val raw: Vector[(String, Int)] = {
    val docs = mutable.ArrayBuffer.empty[(Vector[String], Int)]
    (0 until 500).foreach(_ => docs += ((words(60 + rnd.nextInt(40)), -1)))
    (0 until 60).foreach { c =>
      val base = words(60 + rnd.nextInt(40))
      docs += ((base, c))
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        docs += ((base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size))), c))
      }
    }
    val texts = docs.map { case (ws, c) => (ws.mkString(" "), c) }
    val copies = (0 until 40).flatMap { _ =>
      val (t, c) = texts(rnd.nextInt(texts.size))
      (0 until 1 + rnd.nextInt(2)).map { k =>
        val noisy = if (k == 0) t.toUpperCase else "  " + t.replace(" ", "   ") + " "
        (noisy, c, t)
      }
    }
    // an exact copy belongs to its original's planted group; unrelated
    // originals get one group each (numbered after the near-dup clusters)
    val group = mutable.Map.empty[String, Int]
    texts.zipWithIndex.foreach { case ((t, c), i) => group(t) = if (c >= 0) c else 1000 + i }
    rnd.shuffle(texts.map { case (t, _) => (t, group(t)) } ++ copies.map { case (n, _, t) => (n, group(t)) }).toVector
  }

  /** Documents as (doc_id, text, planted group); ids start at 1. */
  val docs: Vector[(Long, String, Int)] = raw.zipWithIndex.map { case ((t, g), i) => (i + 1L, t, g) }
  private val groupOf = docs.map(d => d._1 -> d._3).toMap
  def group(id: Long): Int = groupOf(id)

  private def normalized(t: String) = t.trim.replaceAll("\\s+", " ").toLowerCase
  /** Survivors of exact dedup: the lowest id of each normalized text. */
  val survivors: Set[Long] = docs.groupBy(d => normalized(d._2)).values.map(_.map(_._1).min).toSet
  /** Planted near-duplicate pairs among the survivors (id_a < id_b). */
  val planted: Set[(Long, Long)] = docs.filter(d => survivors(d._1) && d._3 < 1000).groupBy(_._3).values
    .flatMap(ds => for (a <- ds; b <- ds if a._1 < b._1) yield (a._1, b._1)).toSet

  def json: Seq[String] = docs.map { case (id, t, _) => s"""{"doc_id":$id,"text":${graft.JsonUtil.jstr(t)}}""" }
}

/** corpus_dedup: one full near-duplicate pass per op over the corpus —
  * DedupOps.exactDedup (scored by TextOps.qualityScore), then
  * DedupOps.minhashLshPairs, then DedupOps.dedupResolution.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, work: Path) extends Workload {
  private val corpus = new Corpus(seed)
  private val corpusDir = work.resolve("corpus")
  ClickUpWorld.writeLines(corpusDir, corpus.json)
  private var docs: DataFrame = _
  /** RDDs persisted by set-up, which the passes must not release. */
  private var kept = Set.empty[Int]
  private val verified = mutable.Map.empty[Int, Long]
  private val recall = mutable.Map.empty[Int, Double]
  private var digest = ""

  def primary: String = "pass"
  def cycle: Int = 1

  /** Load the corpus into Spark and materialize it. */
  def setup(): Double = {
    val t0 = System.nanoTime()
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    docs = spark.read.schema(schema).json(corpusDir.toString).localCheckpoint()
    kept = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (System.nanoTime() - t0) / 1e9
  }

  /** Two passes: the first alone leaves the next one still warming up. */
  def warmupSteps: Int = 2

  def step(i: Int, t: Tracer): Op = {
    var out: (DataFrame, DataFrame, Array[Row]) = null
    Workload.runOp("pass") {
      val t0 = System.nanoTime()
      out = pass(i, t)
      (System.nanoTime() - t0) / 1e9
    }(check(i, out._1, out._2, out._3))
  }

  /** exactDedup -> minhashLshPairs -> dedupResolution over `docs`. Releases
    * what the previous pass persisted (its checkpoints) first.
    */
  private def pass(i: Int, t: Tracer): (DataFrame, DataFrame, Array[Row]) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.keySet.toSet -- kept).foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
    t.span("dedup.pass", i) {
      val survivors = t.span("operators.DedupOps.exactDedup", i) {
        DedupOps.exactDedup(docs, "doc_id", "text")
          .withColumn("quality", TextOps.qualityScore(col("text"), corpus.Stopwords))
          .localCheckpoint()
      }
      val pairs = t.span("operators.DedupOps.minhashLshPairs", i) {
        DedupOps.minhashLshPairs(survivors, "doc_id", "text")
      }
      val resolution = t.span("operators.DedupOps.dedupResolution", i) {
        DedupOps.dedupResolution(pairs, "id_a", "id_b", survivors, "doc_id", "quality").collect()
      }
      (survivors, pairs, resolution)
    }
  }

  /** Exact copies collapse to the lowest id; every emitted pair lies inside
    * one planted group; the resolution keeps exactly one document per
    * cluster and points every other one at a survivor of its own group.
    */
  private def check(i: Int, survivors: DataFrame, pairs: DataFrame,
                    resolution: Array[Row]): Unit = {
    val kept = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    if (kept != corpus.survivors)
      throw new IllegalStateException(s"exactDedup kept ${kept.size} docs, expected ${corpus.survivors.size}")
    val ps = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    ps.find { case (a, b) => corpus.group(a) != corpus.group(b) }.foreach { p =>
      throw new IllegalStateException(s"pair $p joins documents of different planted groups")
    }
    verified(i) = ps.length.toLong
    recall(i) = ps.count(corpus.planted).toDouble / corpus.planted.size.max(1)
    val res = resolution.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_root"),
      r.getAs[Long]("canonical_id"), r.getAs[Boolean]("keep")))
    if (res.map(_._1).toSet != kept || res.length != kept.size)
      throw new IllegalStateException("dedupResolution must return one row per survivor")
    res.groupBy(_._2).foreach { case (root, rows) =>
      if (rows.count(_._4) != 1) throw new IllegalStateException(s"cluster $root keeps ${rows.count(_._4)} docs")
    }
    res.find(r => corpus.group(r._1) != corpus.group(r._3)).foreach { r =>
      throw new IllegalStateException(s"doc ${r._1} resolves to ${r._3} of another planted group")
    }
    digest = (ps.sorted.toSeq, res.sorted.toSeq).hashCode.toString
  }

  def checksum(): String = digest

  def report(ops: Seq[Op]): Seq[Metric] = {
    val passes = ops.map(_.seconds)
    Seq(
      Metric("dedup_pass_p50_s", Stats.median(passes), "s", s"(n=${passes.size})"),
      Stats.tailMetric("dedup_pass_tail_s", passes, ""),
      Metric("dedup_recall", Stats.median(recall.values.toSeq), "ratio",
        s"(planted pairs found / ${corpus.planted.size} planted pairs)"))
  }

  def classify(e: ExecRecord): String = "dedup.action"

  def layers(t: TraceData): Seq[Metric] = {
    val L = new Layers(t)
    val passes = t.spans.filter(_.name == "dedup.pass").map(Seq(_))
    val stages = Seq("exactDedup", "minhashLshPairs", "dedupResolution").map(s => s"operators.DedupOps.$s")
    def cands(g: Seq[Span]) =
      L.plan(L.within(g, "operators.DedupOps.minhashLshPairs"), "dedup.action", "pairs.distinct")
    Seq(
      Metric("operators.DedupOps.candidate_pairs", L.perOp(passes)(cands), "count"),
      Metric("operators.DedupOps.verified_pairs", L.perOp(passes)(g => verified.getOrElse(g.head.request, 0L).toDouble), "count"),
      Metric("operators.DedupOps.verify_yield", L.perOp(passes)(g =>
        verified.getOrElse(g.head.request, 0L) / cands(g).max(1.0)), "ratio")
    ) ++ stages.map(L.busy(passes, _)) ++ stages.flatMap(L.counters(passes, _))
  }
}
