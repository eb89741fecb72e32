package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `curate`: single-client batch curation passes over a fixture-schema
  * corpus — the registry's dedup, quality and pipeline keys, drained the
  * way graft.Bench drains them (sizes in WORKLOADS.md). */
final class Curate(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  import Curate._

  val recorder = new Recorder
  private var dir = ""
  private var planted: Set[(Long, Long)] = Set.empty
  private var docs = 0
  private var hash = ""
  private var window = 0.0
  private val fns = graft.Queries.queries
  // per pass: wall seconds; per key: row counts of every pass
  private val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val counts = scala.collection.mutable.LinkedHashMap.empty[String,
    Seq[Long]]
  private var minhashPairs: Set[(Long, Long)] = Set.empty
  private var verify = (0L, 0L)

  def inputHash: String = hash
  def windowS: Double = window
  /** A set-up is under a second, dominated by per-file write overhead: a
    * median of seven keeps it steady at a few seconds' cost. */
  def setupReps: Int = 7

  def setup(d: String): Map[String, Double] = {
    dir = d
    val c = corpus(seed)
    planted = c.pairs.toSet
    docs = c.docs.length
    val t0 = System.nanoTime()
    val par = spark.sparkContext.defaultParallelism
    spark.createDataFrame(spark.sparkContext.parallelize(
        c.docs.map(x => Row(x._1, x._2, x._3, x._4, x._2.length.toLong)), par),
        docSchema)
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(
        c.vecs.map(x => Row(x._1, x._2.map(_.toFloat).toSeq, x._3)), par),
        embSchema)
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    hash = c.hash
    Map("collection" -> (System.nanoTime() - t0) / 1e9)
  }

  /** One curation pass: every key in order, drained; returns its wall
    * seconds. Row counts (and the minhash pairs) are kept per key. */
  private def pass(no: Int, record: Boolean): Double = {
    graft.operators.Dedup.releaseCaches()
    val t0 = System.nanoTime()
    tracer.span("pass", 0L, no) { pid =>
      Keys.foreach { k =>
        val tk = System.nanoTime()
        tracer.span(s"key.$k", pid, no) { _ =>
          val df = fns(k)(spark, dir)
          // the minhash pairs are kept for the planted-pair recall; the
          // other keys are counted where graft.Bench discards them
          val n = if (k == "dedup_minhash") {
            val rows = Main.drain(df)
            if (record)
              minhashPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
            rows.length.toLong
          } else df.queryExecution.toRdd.count()
          if (record) counts(k) = counts.getOrElse(k, Nil) :+ n
          if (record && tracer.enabled && k == "dedup_simhash") {
            val (in, out) = PlanStats.condRows(df, "bit_count")
            verify = (verify._1 + in, verify._2 + out)
          }
        }
        if (record) recorder.ok(k, (System.nanoTime() - tk) / 1e6)
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Two untimed passes: the first pays codegen and the trained-centroid
    * memo, the second most of the JIT warm-up (pass times still fall by a
    * quarter from the first warm pass to the third). */
  def warmup(): Unit = (1 to 2).foreach(i => pass(-i, record = false))

  def run(deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    var no = 1
    // at least two passes, so the per-pass row counts can be compared
    while (no <= 2 || System.nanoTime() < deadlineNs) {
      try passes += pass(no, record = true)
      catch {
        case e: Throwable => recorder.fail("pass", e.toString.take(300))
      }
      no += 1
    }
    window = (System.nanoTime() - t0) / 1e9
  }

  def check(): Unit = {
    counts.foreach { case (k, ns) =>
      if (ns.distinct.length > 1)
        recorder.wrong(k, s"row counts differ across passes: $ns")
    }
    if (recall < MinRecall) recorder.wrong("dedup_minhash",
      f"planted-pair recall $recall%.3f below $MinRecall")
  }

  private def recall: Double =
    if (planted.isEmpty) 0.0
    else planted.count(minhashPairs.contains).toDouble / planted.size

  /** A pass's latency as the sum of its keys' median times. */
  private def passMs = Stats.mixMedian(recorder.all, Keys.map(_ -> 1.0).toMap)
  private def docsPerS = docs / (passMs / 1e3).max(1e-9)

  def endToEnd: Seq[(String, M)] = Seq(
    "setup_s" -> M(0, "s"),
    "latency_p50_ms" -> M(passMs, "ms"),
    "throughput_per_s" -> M(docsPerS, "1/s"))

  def detail: Seq[(String, M)] = Seq(
    "pipeline_docs_per_s" -> M(docsPerS, "docs/s"),
    "pass_p50_s" -> M(Stats.median(passes.toSeq), "s"),
    "passes" -> M(passes.length, "count"),
    "dedup_recall" -> M(recall, "ratio"),
    "corpus_docs" -> M(docs, "count"))

  def perLayer(tr: Tracer): Seq[(String, M)] = {
    val all = tr.all
    val kids = tr.children
    val ps = all.filter(_.name == "pass")
    val n = ps.length.max(1).toDouble
    val sub = ps.flatMap(p => tr.subtree(p, kids))
    def perPass(f: SparkAcc => java.util.concurrent.atomic.LongAdder) =
      tr.sum(sub)(f) / n
    val skews = scala.jdk.CollectionConverters.MapHasAsScala(tr.stageTasks)
      .asScala.values.map(q =>
        scala.jdk.CollectionConverters.IterableHasAsScala(q).asScala
          .map(_.toDouble).toSeq)
      .filter(_.length >= 2)
      .map(ts => ts.max / Stats.median(ts).max(1.0)).toSeq
    Keys.map(k => s"key.$k.s" -> M(Stats.median(all.filter(_.name == s"key.$k")
      .map(_.durNs / 1e9)), "s")) ++ Seq(
      "pass_self_ms" -> M(Stats.median(ps.map(p => tr.selfNs(p, kids) / 1e6)),
        "ms"),
      "shuffle_write_bytes_per_doc" -> M(perPass(_.shuffleWrite) / docs,
        "bytes"),
      "spill_bytes" -> M(perPass(_.spill), "bytes"),
      "executor_cpu_ms_per_doc" -> M(perPass(_.cpuNs) / 1e6 / docs, "ms"),
      "gc_ms" -> M(perPass(_.gcMs), "ms"),
      "task_skew" -> M(Stats.median(skews), "ratio"),
      "dedup.verified_per_candidate" -> M(
        if (verify._1 == 0) 0.0 else verify._2.toDouble / verify._1, "ratio"),
      "quality.dedup_recall" -> M(recall, "ratio"))
  }
}

object Curate {
  val Docs = 3000
  val Keys = Seq("dedup_exact", "dedup_minhash", "dedup_simhash",
    "dedup_semantic", "txt_quality", "pipe_curate")
  /** Planted pairs have word 3-gram Jaccard >= 0.8; banded MinHash with
    * 4 bands x 4 rows finds such a pair with probability >= 0.88. */
  val MinRecall = 0.75

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  final case class Corpus(docs: Seq[(Long, String, String, String)],
                          vecs: Seq[(Long, Array[Double], Int)],
                          pairs: Seq[(Long, Long)]) {
    /** Content hash of the corpus and its planted pairs. */
    def hash: String = {
      val d = new Gen.Digest
      docs.foreach { x => d.long(x._1).str(x._2).str(x._3).str(x._4) }
      vecs.foreach { x => d.long(x._1); x._2.foreach(d.double); d.long(x._3) }
      pairs.foreach { case (a, b) => d.long(a).long(b) }
      d.hex
    }
  }

  /** Distinct word 3-grams, the shingles dedup_minhash compares. */
  def shingles(toks: Seq[String]): Set[String] =
    toks.sliding(3).map(_.mkString(" ")).toSet

  /** `Docs` distinct documents, 5% of them paired with a planted
    * near-duplicate (one word substituted mid-document, shingle Jaccard
    * >= 0.8), plus one 64-dim embedding per document. */
  def corpus(seed: Long): Corpus = {
    val r = new SplittableRandom(seed * 0x632BE59BD9B4E019L + 11)
    val nPairs = Docs / 20
    val base = Docs - nPairs
    val texts = Array.fill(base)(Gen.tokens(r, 30, 60))
    val pairs = (0 until nPairs).map { i =>
      val src = r.nextInt(base)
      val t = texts(src).clone()
      val pos = t.length / 2
      t(pos) = Gen.vocab(r.nextInt(Gen.vocab.length))
      val (a, b) = (shingles(texts(src)), shingles(t))
      require((a intersect b).size.toDouble / (a union b).size >= 0.8)
      (src, t)
    }
    val docs = texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.mkString(" "), Gen.drawLang(r), s"src${r.nextInt(20)}")
    } ++ pairs.zipWithIndex.map { case ((_, t), j) =>
      ((base + j).toLong, t.mkString(" "), Gen.drawLang(r),
        s"src${r.nextInt(20)}")
    }
    val space = new Gen.VectorSpace(r, 64, 64, 0.5)
    val vecs = docs.map(d => (d._1, space.draw(r), r.nextInt(10)))
    Corpus(docs, vecs,
      pairs.zipWithIndex.map { case ((src, _), j) => (src.toLong, (base + j).toLong) })
  }
}
