package perfbench

import java.nio.file.Paths
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{EmbedderOps, FeatureHashEmbedder, Ingest}
import graft.sources.{Collections, LexIndex, PayloadIndex, QuantIndex}

/** A stored point as the harness models it. */
final case class Stored(vec: Array[Double], text: String, label: Int,
                        lang: String)

/** One generated document of an embed message. `fresh` marks a new id. */
final case class Doc(id: Long, text: String, label: Int, lang: String,
                     fresh: Boolean)

/** A batch of reference-shaped embed messages (collection / documents /
  * metadatas / ids) and the documents they carry, in message order. */
final case class Batch(seqBase: Long, messages: Seq[String], docs: Seq[Doc])

/** What one committed write batch cost and changed. */
final case class Written(points: Int, upsertMs: Double, visibleMs: Double,
                         probeHit: Boolean, bucketsRewritten: Int,
                         bytesWritten: Long)

/** Seeded message stream: an initial load of new documents, then batches
  * where 30% of the documents reuse an existing id (Zipf-skewed toward
  * recently added ids) and the rest are new. Ids are 0, 1, 2, ... in
  * order of first use. */
final class MessageGen(seed: Long) {
  private val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)
  private var nextId = 0L
  private var seqBase = 0L

  private def message(docs: Seq[Doc]): String =
    "{\"collection\": \"bench\", \"documents\": " +
      docs.map(d => Json.str(d.text)).mkString("[", ", ", "]") +
      ", \"metadatas\": " + docs.map(d =>
        s"""{"label": "${d.label}", "lang": "${d.lang}"}""")
        .mkString("[", ", ", "]") +
      ", \"ids\": " + docs.map(d => Json.str(d.id.toString))
        .mkString("[", ", ", "]") + "}"

  private def doc(reuse: Boolean): Doc = {
    val text = Gen.topicText(r, 8, 24)
    val label = r.nextInt(Gen.Labels)
    val lang = Gen.drawLang(r)
    if (reuse && nextId > 0) {
      // Zipf over recency: rank 0 is the most recently added id
      val rank = (math.pow(nextId.toDouble, r.nextDouble()) - 1).toLong
      Doc(nextId - 1 - rank.min(nextId - 1), text, label, lang, fresh = false)
    } else {
      nextId += 1
      Doc(nextId - 1, text, label, lang, fresh = true)
    }
  }

  /** Messages of one to three documents until `points` documents. */
  private def batch(points: Int, reuse: Double): Batch = {
    val msgs = scala.collection.mutable.ArrayBuffer.empty[Seq[Doc]]
    var n = 0
    while (n < points) {
      val m = Seq.fill(1 + r.nextInt(3))(doc(r.nextDouble() < reuse))
      msgs += m; n += m.length
    }
    val b = Batch(seqBase, msgs.map(message).toSeq, msgs.flatten.toSeq)
    seqBase += msgs.length
    b
  }

  def initial(points: Int): Batch = batch(points, reuse = 0.0)
  def next(points: Int): Batch = batch(points, reuse = 0.3)
}

/** The reference's write path through the engine's public calls:
  * canonical messages → `Ingest.normalize` → `Ingest.toPoints` →
  * `EmbedderOps.embedTextBatch` → `Collections.upsertBatch`, then the
  * Quant, Lex and Payload layouts refreshed from the change feed. */
final class WritePath(spark: SparkSession, tracer: Tracer,
                      val embedder: FeatureHashEmbedder,
                      val dirs: Map[String, String]) {
  def coll: String = dirs("collection")

  /** Canonical messages → collection rows (lazy, as the engine plans
    * them): message ids become long point ids, metadata the payload
    * columns. */
  def normalized(b: Batch): DataFrame = {
    import spark.implicits._
    val raw = b.messages.zipWithIndex
      .map { case (m, i) => (b.seqBase + i.toLong, m) }.toDF("msg_seq", "raw")
    Ingest.toPoints(Ingest.normalize(raw, "raw"), keep = Seq("msg_seq"))
      .select(col("id").cast("long").as("id"),
        (col("msg_seq") * 16 + col("idx")).as("seq"),
        col("document").as("text"),
        element_at(col("payload"), "label").cast("int").as("label"),
        element_at(col("payload"), "lang").as("lang"),
        length(col("document")).cast("long").as("n_chars"))
  }

  def embedded(df: DataFrame): DataFrame =
    EmbedderOps.embedTextBatch(df, "text", "vec", embedder)

  /** The model after a batch: keep-last per id in (message, document)
    * order, vectors from the embedder the engine runs. */
  def model(prev: Map[Long, Stored], b: Batch): Map[Long, Stored] = {
    val vecs = embedder.embedBatch(b.docs.map(_.text))
    b.docs.zip(vecs).foldLeft(prev) { case (m, (d, v)) =>
      m.updated(d.id, Stored(v, d.text, d.label, d.lang)) }
  }

  /** Create the collection and load the first batch. */
  def load(b: Batch, buckets: Int): Unit = {
    Collections.create(coll, Collections.VectorConfig(embedder.dim), buckets)
    Collections.upsertBatch(spark, coll, embedded(normalized(b)), "id", "seq",
      0L)
  }

  /** Build the three layouts; per-layout seconds. */
  def build(): Map[String, Double] = {
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    Map(
      "quant" -> timed(QuantIndex.buildFromCollection(spark, coll,
        dirs("quant"), "id", "vec", embedder.dim)),
      "lex" -> timed(LexIndex.build(spark, coll, dirs("lex"), "id", "text")),
      "payload" -> timed(PayloadIndex.buildFromCollection(spark, coll,
        dirs("payload"), "label", "id")))
  }

  /** Write one batch: upsert, refresh every layout from `prev`, then
    * search for one of its new ids (the probe). Traced runs also drain
    * the lazy normalize and embed calls on their own, since untraced they
    * only execute inside the upsert. */
  def write(no: Int, b: Batch, prev: Collections.ManifestView,
            after: Map[Long, Stored]): Written = {
    val probeId = b.docs.find(_.fresh).get.id
    val t0 = System.nanoTime()
    var upsertMs = 0.0
    var rewritten = (0, 0L)
    val hit = tracer.span("batch", 0L, no) { bid =>
      val pts = tracer.span("normalize", bid, no)(_ => normalized(b))
      if (tracer.enabled)
        tracer.span("normalize.drain", bid, no)(_ => Main.drain(pts))
      val emb = tracer.span("embed", bid, no)(_ => embedded(pts))
      if (tracer.enabled)
        tracer.span("embed.drain", bid, no)(_ => Main.drain(emb))
      tracer.span("upsert", bid, no)(_ =>
        Collections.upsertBatch(spark, coll, emb, "id", "seq", no.toLong))
      upsertMs = (System.nanoTime() - t0) / 1e6
      val cur = Collections.manifestView(coll)
      val changed = Collections.changedBuckets(prev, cur)
      rewritten = (changed.size, changed.toSeq.flatMap(cur.buckets.get)
        .map(rel => Main.dirBytes(Paths.get(coll, "data", rel))).sum)
      tracer.span("refresh.quant", bid, no)(_ =>
        QuantIndex.refresh(spark, coll, dirs("quant"), prev))
      tracer.span("refresh.lex", bid, no)(_ =>
        LexIndex.refresh(spark, coll, dirs("lex"), prev))
      tracer.span("refresh.payload", bid, no)(_ =>
        PayloadIndex.refresh(spark, coll, dirs("payload"), "id", prev))
      tracer.span("probe", bid, no) { _ =>
        val df = Collections.search(spark, coll, "vec", "id",
          after(probeId).vec.toSeq, 1)
        val i = df.schema.fieldIndex("id")
        Main.drain(df).exists(_.getLong(i) == probeId)
      }
    }
    Written(b.docs.length, upsertMs, (System.nanoTime() - t0) / 1e6, hit,
      rewritten._1, rewritten._2)
  }

  /** Per-layer metrics of the traced batch spans. */
  def layers(tr: Tracer, written: Seq[Written]): Seq[(String, M)] = {
    val kids = tr.children
    val bs = tr.all.filter(_.name == "batch")
    def named(name: String) = bs.flatMap(b =>
      kids.getOrElse(b.id, Nil).filter(_.name == name)).map(_.durNs / 1e6)
    def med(name: String) = Stats.median(named(name))
    val points = written.map(_.points).sum.toDouble
    val embedS = named("embed.drain").sum / 1e3
    val data = Paths.get(coll, "data").toFile.listFiles()
    Seq(
      "normalize_ms" -> M(med("normalize.drain"), "ms"),
      "embed_ms" -> M(med("embed.drain"), "ms"),
      "embed_points_per_s" -> M(if (embedS == 0) 0.0 else points / embedS,
        "1/s"),
      "upsert_ms" -> M(med("upsert"), "ms"),
      "buckets_rewritten_per_batch" -> M(
        Stats.mean(written.map(_.bucketsRewritten.toDouble)), "count"),
      "bytes_written_per_point" -> M(
        written.map(_.bytesWritten).sum / points.max(1), "bytes"),
      "refresh_ms.quant" -> M(med("refresh.quant"), "ms"),
      "refresh_ms.lex" -> M(med("refresh.lex"), "ms"),
      "refresh_ms.payload" -> M(med("refresh.payload"), "ms"),
      "probe_ms" -> M(med("probe"), "ms"),
      "batch_self_ms" -> M(Stats.median(bs.map(b => tr.selfNs(b, kids) / 1e6)),
        "ms"),
      "live_generations" -> M(
        Option(data).getOrElse(Array.empty[java.io.File])
          .count(_.getName.matches("g\\d+")).toDouble, "count"))
  }
}
