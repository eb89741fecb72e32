package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.operators.{FeatureHashEmbedder, Fusion, Knn}
import graft.sources.{Collections, LexIndex, PayloadIndex, QuantIndex,
  VectorRouter}

/** One search request of a client's pre-generated stream. */
final case class Req(id: Long, kind: String, qs: Array[Array[Double]],
                     label: Int, terms: Seq[String])

/** A drained result: the request, its latency and the rows' numeric
  * output columns. */
final case class Done(req: Req, ms: Double, rows: Array[Array[Double]])

/** Runs one search request as route / plan / execute spans, keeps the
  * numeric output columns, and collects the plan facts and per-layer
  * metrics of the traced run. */
final class Searcher(tracer: Tracer, layouts: Map[String, String]) {
  /** Per request: (kind, result rows, scan rows, layouts scanned, quant
    * candidates). Filled only by the traced run. */
  val planFacts = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, Int, Long, Set[String], Long)]

  def numeric(df: DataFrame, rows: Array[InternalRow], names: Seq[String])
      : Array[Array[Double]] = {
    val fs = names.map(n => (df.schema.fieldIndex(n), df.schema(n).dataType))
    rows.map(r => fs.map { case (i, t) =>
      if (r.isNullAt(i)) Double.NaN
      else r.get(i, t).asInstanceOf[Number].doubleValue
    }.toArray)
  }

  def run(req: Req, route: => DataFrame, out: Seq[String]): Done = {
    val t0 = System.nanoTime()
    val (df, rows) = tracer.span(s"request.${req.kind}", 0L, req.id) { rid =>
      val df = tracer.span("route", rid, req.id)(_ => route)
      tracer.span("plan", rid, req.id)(_ => df.queryExecution.executedPlan)
      val rows = tracer.span("execute", rid, req.id)(_ => Main.drain(df))
      (df, rows)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer.enabled) {
      val scans = PlanStats.scans(df)
      val served = scans.flatMap(_.rootPaths).flatMap(p =>
        layouts.collectFirst { case (name, dir) if p.contains(dir) => name })
        .toSet
      val cands =
        if (req.kind == "quant") PlanStats.condRows(df, "graft_sq_codes_dot")._2 else 0L
      planFacts.add((req.kind, rows.length, scans.map(_.rows).sum, served,
        cands))
    }
    Done(req, ms, numeric(df, rows, out))
  }

  /** Per-layer metrics over the traced window's request spans. */
  def layers(kinds: Seq[String]): Seq[(String, M)] = {
    val all = tracer.all
    val kids = tracer.children
    val reqs = all.filter(_.name.startsWith("request."))
    def kindOf(s: Span) = s.name.stripPrefix("request.")
    def phase(ss: Seq[Span], ph: String): Seq[Double] =
      ss.flatMap(r => kids.getOrElse(r.id, Nil).filter(_.name == ph))
        .map(_.durNs / 1e6)
    def perKind(ph: String, k: String) =
      Stats.median(phase(reqs.filter(kindOf(_) == k), ph))
    val n = reqs.length.max(1).toDouble
    val sub = reqs.map(r => tracer.subtree(r, kids))
    def perReq(f: SparkAcc => java.util.concurrent.atomic.LongAdder) =
      sub.map(s => tracer.sum(s)(f).toDouble).sum / n
    val facts = scala.jdk.CollectionConverters.IterableHasAsScala(planFacts)
      .asScala.toSeq
    val results = facts.map(_._2.toLong).sum.max(1L).toDouble
    val quantFacts = facts.filter(_._1 == "quant")
    Seq(
      "route_ms" -> M(Stats.median(phase(reqs, "route")), "ms"),
      "plan_ms" -> M(Stats.median(phase(reqs, "plan")), "ms"),
      "exec_ms" -> M(Stats.median(phase(reqs, "execute")), "ms"),
      "request_self_ms" -> M(Stats.median(reqs.map(r =>
        tracer.selfNs(r, kids) / 1e6)), "ms")) ++
    kinds.flatMap(k => Seq(
      s"route_ms.$k" -> M(perKind("route", k), "ms"),
      s"exec_ms.$k" -> M(perKind("execute", k), "ms"),
      s"kind.$k.p50_ms" -> M(Stats.median(reqs.filter(kindOf(_) == k)
        .map(_.durNs / 1e6)), "ms"))) ++
    Seq(
      "jobs_per_search" -> M(perReq(_.jobs), "count"),
      "tasks_per_search" -> M(perReq(_.tasks), "count"),
      "driver_gap_ms_per_search" -> M(
        Stats.mean(reqs.map(r => tracer.driverGapMs(r, kids))), "ms"),
      "executor_cpu_ms_per_search" -> M(perReq(_.cpuNs) / 1e6, "ms"),
      "input_bytes_per_search" -> M(perReq(_.inputBytes), "bytes"),
      "rows_scanned_per_result" -> M(facts.map(_._3).sum / results, "ratio"),
      "quant.candidates_per_result" -> M(
        if (quantFacts.isEmpty) 0.0
        else quantFacts.map(_._5).sum.toDouble /
          quantFacts.map(_._2).sum.max(1), "ratio")) ++
    Seq("collection", "quant", "lex", "payload").map { l =>
      s"served_by.$l" -> M(
        if (facts.isEmpty) 0.0
        else facts.count(_._4.contains(l)).toDouble / facts.length, "share")
    }
  }
}

/** `serve`: a collection loaded through the reference's write path, one
  * more write batch refreshing its Quant, Lex and Payload layouts, then a
  * read-only closed loop of varied top-10 searches (sizes and mix in
  * WORKLOADS.md). */
final class Serve(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  import Serve._

  spark.conf.set("spark.graft.quant.scopedScanRows", ScopedScanRows.toString)

  val recorder = new Recorder
  private val embedder = new FeatureHashEmbedder(Model)
  private var wp: WritePath = _
  private var initial: Batch = _
  private var update: Batch = _
  private var cursor: Collections.ManifestView = _
  /** The collection after the load, then after the update batch. */
  private var model: Map[Long, Stored] = Map.empty
  private var pts: Array[Stored] = Array.empty
  private var dirs: Map[String, String] = Map.empty
  private var pools: Seq[Array[Req]] = Nil
  private var hash = ""
  private var searcher: Searcher = _
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]
  private var window = 0.0
  private var written: Option[Written] = None
  private var writeLayers: Seq[(String, M)] = Nil

  def inputHash: String = hash
  def windowS: Double = window
  def setupReps: Int = 3

  def setup(dir: String): Map[String, Double] = {
    val in = inputs(spark, seed, embedder)
    initial = in.initial
    update = in.update
    pools = in.pools
    hash = in.hash
    dirs = Map("collection" -> s"$dir/collection", "quant" -> s"$dir/quant",
      "lex" -> s"$dir/lex", "payload" -> s"$dir/payload_label")
    wp = new WritePath(spark, tracer, embedder, dirs)
    val t0 = System.nanoTime()
    wp.load(initial, Buckets)
    val loadS = (System.nanoTime() - t0) / 1e9
    val builds = wp.build()
    cursor = Collections.manifestView(dirs("collection"))
    searcher = new Searcher(tracer, Map("collection" -> dirs("collection"),
      "quant" -> dirs("quant"), "lex" -> dirs("lex"),
      "payload" -> dirs("payload")))
    builds + ("collection" -> loadS)
  }

  private def points: DataFrame = Collections.read(spark, dirs("collection"))

  /** Build the request's DataFrame through the engine's public calls. */
  private def route(r: Req): DataFrame = r.kind match {
    case "knn" =>
      Collections.search(spark, dirs("collection"), "vec", "id",
        r.qs(0).toSeq, K)
    case "quant" =>
      val cands = QuantIndex.cosineCandidates(spark, dirs("quant"),
        r.qs(0).toSeq, K).select("id")
      Knn.knn(points.join(cands, Seq("id"), "left_semi"), "vec",
        r.qs(0).toSeq, K, idCol = "id")
    case "filter_1pct" | "filter_30pct" =>
      VectorRouter.queryPoints(spark, points, "id", "vec",
        Seq(dirs("quant")), Seq("label" -> dirs("payload")),
        r.qs(0).toSeq, K, dslJson = Some(dsl(r)))
    case "hybrid" =>
      val hits = LexIndex.termCountScores(spark, dirs("lex"), r.terms)
      val tTop = LexIndex.rankedTopN(spark, hits, points.select("id"), "id",
          "score_t", HybridN, "r_t")
        .select(col("id").as("doc_id"), col("r_t"))
      val q = r.qs(0).toSeq
      val cands = QuantIndex.cosineCandidates(spark, dirs("quant"), q,
        HybridN).select("id")
      val scored = points.join(cands, Seq("id"), "left_semi")
        .withColumn("score_vm", floor(VectorOps.cosine(col("vec"),
          typedLit(q)) * 1e6 + lit(0.5)).cast("long"))
      val vTop = Fusion.topNRanked(scored, HybridN, "r_v", desc("score_vm"),
          col("id"))
        .select(col("id").as("doc_id"), col("r_v"))
      Fusion.rrfFuse(tTop, vTop, topN = K)
    case "multi8" =>
      VectorRouter.queryPointsMulti(spark, points, "id", "vec",
        Seq(dirs("quant")), r.qs.indices.map(i => (i.toLong, r.qs(i).toSeq)),
        K)
  }

  private def exec(r: Req): Done = searcher.run(r, route(r), outCols(r.kind))

  /** The update batch through the write path (its upsert, refreshes and
    * probe are the write-side measurements), then two requests of every
    * kind, split over the clients and run concurrently as in the window. */
  def warmup(): Unit = {
    model = wp.model(wp.model(Map.empty, initial), update)
    pts = (0L until model.size).map(model).toArray
    val w = wp.write(1, update, cursor, model)
    written = Some(w)
    if (!w.probeHit) recorder.wrong("probe", "update batch: new id not found")
    // the write's spans are cleared with the warmup's: keep its layers
    tracer.drain()
    writeLayers = if (tracer.enabled) wp.layers(tracer, Seq(w)) else Nil
    val firsts = Kinds.flatMap(k => pools.head.filter(_.kind == k).take(2))
    val ts = (0 until Clients).map(c => new Thread(() =>
      firsts.indices.filter(_ % Clients == c).foreach(i => exec(firsts(i)))))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  def run(deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    val threads = pools.map { pool =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadlineNs) {
          val r = pool(i % pool.length)
          try {
            val d = exec(r)
            recorder.ok(r.kind, d.ms)
            done.add(d)
          } catch {
            case e: Throwable => recorder.fail(r.kind, e.toString.take(300))
          }
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    window = (System.nanoTime() - t0) / 1e9
  }

  private var recallSum = 0.0
  private var recallN = 0

  def check(): Unit = {
    val brute = new Brute(pts.map(_.vec))
    lazy val postings: Map[String, Array[(Int, Int)]] =
      pts.indices.flatMap(i => pts(i).text.split(" ").groupBy(identity)
        .map { case (t, occ) => (t, (i, occ.length)) })
        .groupBy(_._1).map { case (t, v) => t -> v.map(_._2).toArray }
    val ds = scala.jdk.CollectionConverters.IterableHasAsScala(done).asScala
      .toSeq
    val byReq = ds.groupBy(_.req.id)
    // each distinct request is checked once; its repeats must agree
    byReq.values.foreach { reps =>
      val r = reps.head.req
      val expect: Option[Seq[Seq[Double]]] = r.kind match {
        case "knn" | "quant" =>
          val s = brute.scores(r.qs(0)).map(Brute.round6)
          Some(Brute.top(pts.indices.iterator, K)((a, b) =>
            s(a) > s(b) || (s(a) == s(b) && a < b))
            .map(i => Seq(i.toDouble, s(i))))
        case "filter_1pct" | "filter_30pct" =>
          val s = brute.scores(r.qs(0))
          val keep = pts.indices.iterator.filter(i =>
            if (r.kind == "filter_1pct") pts(i).label == r.label
            else pts(i).lang == "en")
          Some(Brute.top(keep, K)((a, b) =>
            s(a) > s(b) || (s(a) == s(b) && a < b))
            .map(i => Seq(i.toDouble, Brute.micro(s(i)).toDouble)))
        case "hybrid" =>
          val st = new Array[Long](pts.length)
          r.terms.distinct.foreach(t =>
            postings.getOrElse(t, Array.empty[(Int, Int)])
              .foreach { case (i, c) => st(i) += c })
          val sv = brute.scores(r.qs(0)).map(Brute.micro)
          val rt = Brute.top(pts.indices.iterator, HybridN)((a, b) =>
            st(a) > st(b) || (st(a) == st(b) && a < b))
            .zipWithIndex.map { case (i, k) => i -> (k + 1) }.toMap
          val rv = Brute.top(pts.indices.iterator, HybridN)((a, b) =>
            sv(a) > sv(b) || (sv(a) == sv(b) && a < b))
            .zipWithIndex.map { case (i, k) => i -> (k + 1) }.toMap
          def rrf(i: Int): Long =
            rt.get(i).map(x => 1000000L / (60 + x)).getOrElse(0L) +
              rv.get(i).map(x => 1000000L / (60 + x)).getOrElse(0L)
          val ids = (rt.keySet ++ rv.keySet).toSeq
          Some(Brute.top(ids.iterator, K)((a, b) =>
            rrf(a) > rrf(b) || (rrf(a) == rrf(b) && a < b))
            .map(i => Seq(i.toDouble, rt.getOrElse(i, 0).toDouble,
              rv.getOrElse(i, 0).toDouble, rrf(i).toDouble)))
        case "multi8" =>
          val truth = r.qs.map { q =>
            val s = brute.scores(q)
            Brute.top(pts.indices.iterator, K)((a, b) =>
              s(a) > s(b) || (s(a) == s(b) && a < b)).toSet
          }
          reps.foreach { d =>
            r.qs.indices.foreach { qi =>
              val got = d.rows.filter(_(0) == qi).map(_(1).toInt).toSet
              recallSum += (got intersect truth(qi)).size.toDouble / K
              recallN += 1
            }
            if (d.rows.length != K * r.qs.length)
              recorder.wrong(r.kind, s"request ${r.id}: ${d.rows.length} rows")
          }
          None
      }
      expect.foreach { e =>
        reps.foreach { d =>
          val got = d.rows.map(_.toSeq).toSeq
          if (got != e) recorder.wrong(r.kind,
            s"request ${r.id}: got ${got.take(3)} expected ${e.take(3)}")
        }
      }
    }
  }

  private def lat = recorder.latencies

  def endToEnd: Seq[(String, M)] = Seq(
    "setup_s" -> M(0, "s"),
    "latency_p50_ms" -> M(Stats.mixMedian(recorder.all, MixWeights), "ms"),
    "throughput_per_s" -> M(lat.length / window.max(1e-9), "1/s"))

  private def recall = if (recallN == 0) 0.0 else recallSum / recallN

  private def storedBytesPerPoint: Double =
    dirs.values.map(d => Main.dirBytes(java.nio.file.Paths.get(d))).sum
      .toDouble / pts.length

  def detail: Seq[(String, M)] = written.toSeq.flatMap(w => Seq(
    "ingest_points_per_s" -> M(w.points / (w.visibleMs / 1e3), "points/s"),
    "upsert_ms" -> M(w.upsertMs, "ms"),
    "visible_ms" -> M(w.visibleMs, "ms"),
    "probe_visible" -> M(if (w.probeHit) 1 else 0, "ratio"),
    "stored_bytes_per_point" -> M(storedBytesPerPoint, "bytes"))) ++ Seq(
    "search_p50_ms" -> M(Stats.median(lat), "ms"),
    "search_p95_ms" -> M(Stats.pct(lat, 95), "ms"),
    "search_samples" -> M(lat.length, "count"),
    "search_qps" -> M(lat.length / window.max(1e-9), "1/s"),
    "recall_at_10" -> M(recall, "ratio"))

  def perLayer(tr: Tracer): Seq[(String, M)] =
    searcher.layers(Kinds) ++ writeLayers :+
      ("quality.recall_at_10" -> M(recall, "ratio"))
}

object Serve {
  /** The feature-hash embedder's 64-dim model. */
  val Model = "graft/hash-64"
  val Points = 10000
  /** Documents of the update batch (500 messages of 1-3 documents). */
  val UpdatePoints = 1000
  /** QuantIndex.scopedScanRows for this session: below [[Points]], so
    * the 30% filter takes the filter-scoped exact-bound branch (the
    * engine's default gate, 65,536 rows, needs a collection larger than
    * the run's time budget can set up three times). */
  val ScopedScanRows = 8192
  val Buckets = 1
  val K = 10
  val HybridN = 100
  val Clients = 2
  /** Requests per client stream: ten kind cycles, more than a window uses. */
  val PoolSize = 200
  val Kinds = Seq("knn", "quant", "filter_1pct", "filter_30pct", "hybrid",
    "multi8")

  /** Labels alone in their payload-index value bucket. The ~1% filters
    * use them, so the router's footer estimate (the bucket's rows) is
    * the label's own rows, under VectorRouter's scanThreshold of 1024. */
  def soloLabels(spark: SparkSession): Seq[Int] = {
    val vb = PayloadIndex.DefaultValueBuckets
    val solo = spark.range(Gen.Labels).select(col("id").cast("int").as("l"))
      .select(col("l"), PayloadIndex.valueBucket(col("l"), vb).as("b"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
      .groupBy(_._2).values.filter(_.length == 1).map(_.head._1)
      .toSeq.sorted
    require(solo.nonEmpty, "no label has a value bucket of its own")
    solo
  }

  final case class Inputs(initial: Batch, update: Batch,
                          pools: Seq[Array[Req]], hash: String)

  /** Every input of a serve run: the load and update message batches
    * and each client's request stream, with their content hash. */
  def inputs(spark: SparkSession, seed: Long,
             embedder: FeatureHashEmbedder): Inputs = {
    val gen = new MessageGen(seed)
    val initial = gen.initial(Points)
    val update = gen.next(UpdatePoints)
    val texts = (initial.docs ++ update.docs).map(_.text).toArray
    val solo = soloLabels(spark)
    val pools = (0 until Clients).map(c =>
      requests(seed, c, texts, solo, embedder))
    val d = new Gen.Digest
    (initial.messages ++ update.messages).foreach(d.str)
    pools.foreach(_.foreach(r => digestReq(d, r)))
    Inputs(initial, update, pools, d.hex)
  }

  def outCols(kind: String): Seq[String] = kind match {
    case "knn" | "quant" => Seq("id", "score")
    case "filter_1pct" | "filter_30pct" => Seq("id", "score_micro")
    case "hybrid" => Seq("doc_id", "r_t", "r_v", "rrf_milli")
    case "multi8" => Seq("query_id", "id", "score_micro")
  }

  def dsl(r: Req): String =
    if (r.kind == "filter_1pct")
      s"""{"must": [{"key": "label", "match": {"value": ${r.label}}}]}"""
    else """{"must": [{"key": "lang", "match": {"value": "en"}}]}"""

  /** The kind order every client cycles through (offset by client): in
    * every 20 requests 25% knn, 20% quant, 10% filter_1pct, 10%
    * filter_30pct, 15% hybrid and 20% multi8, interleaved so that any
    * run of a few requests holds cheap and costly kinds alike. Only the
    * request parameters come from the seed, so runs with different seeds
    * serve the same mix in the same order. */
  val Cycle: Seq[String] = Seq("knn", "multi8", "quant", "hybrid", "knn",
    "filter_1pct", "quant", "multi8", "knn", "filter_30pct", "hybrid",
    "quant", "multi8", "knn", "filter_1pct", "hybrid", "quant", "multi8",
    "knn", "filter_30pct")

  /** Each kind's share of the requests. */
  val MixWeights: Map[String, Double] =
    Cycle.groupBy(identity).map { case (k, v) => k -> v.length.toDouble / Cycle.length }

  /** A client's request stream, [[Cycle]] in order from an offset of
    * half a cycle per client. A query is the embedding of a text made of
    * words of a stored document plus two vocabulary words, so it has near
    * neighbours; hybrid terms are words of that text. */
  def requests(seed: Long, client: Int, docs: Array[String], solo: Seq[Int],
               embedder: FeatureHashEmbedder): Array[Req] = {
    val r = new SplittableRandom(seed * 1000003L + 7919L * (client + 1))
    def text(): Seq[String] = {
      val words = docs(r.nextInt(docs.length)).split(" ")
      Seq.fill(6)(words(r.nextInt(words.length))) ++
        Seq.fill(2)(Gen.zipfWord(r))
    }
    Array.tabulate(PoolSize) { i =>
      val kind = Cycle((i + client * Cycle.length / Clients) % Cycle.length)
      val texts = Seq.fill(if (kind == "multi8") 8 else 1)(text())
      Req(client * 1000000L + i, kind,
        embedder.embedBatch(texts.map(_.mkString(" "))).toArray,
        solo(r.nextInt(solo.length)), texts.head.take(3))
    }
  }

  def digestReq(d: Gen.Digest, r: Req): Unit = {
    d.long(r.id).str(r.kind).long(r.label)
    r.qs.foreach(_.foreach(d.double))
    r.terms.foreach(d.str)
  }
}
