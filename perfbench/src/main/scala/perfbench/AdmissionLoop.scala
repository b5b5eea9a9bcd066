package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.EpochStore
import graft.operators.{AnnAdmitIndex, IvfOps, NearDupIndex, ShardAdmission, SpanIndex}
import graft.streaming.AdmissionStream

/** The production ingest loop: `AdmissionStream.ingestFull`, all four tiers,
  * over a seeded corpus of documents left-joined to embeddings. Set-up
  * builds the near-dup, span and ANN indexes from a seeded base slice,
  * starts the stream and feeds it one warm-up batch (only these engine calls
  * count as `setup_s`, not the corpus generation or the checks); each timed
  * operation adds one fixed-size micro-batch and waits for it. With
  * `MaintainEvery` = 1 every batch ends with a tail compaction of all three
  * indexes, so every batch does the same work.
  *
  * Checks: every batch document gets exactly one decision in the batch's
  * manifest, and the first timed batch's decisions equal a batch
  * `ShardAdmission.reportFullEpoch` replay against a copy of the indexes
  * taken before it, run after the clock stops. */
final class AdmissionLoop(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import AdmissionLoop._

  private val ndx = work.resolve("index/neardup").toString
  private val spx = work.resolve("index/span").toString
  private val ann = work.resolve("index/ann").toString
  private val out = work.resolve("manifests").toString
  private val preBatch1 = work.resolve("index-before-batch1")
  private var corpus: Corpus = _
  private var input: MemoryStream[(Long, String, Array[Double])] = _
  private var query: StreamingQuery = _
  private val verdicts = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def setup(clock: SetupClock): Unit = {
    corpus = Corpus.generate(seed)
    val base = spark.createDataFrame(corpus.base.map { case (id, text, _) => (id, text) })
      .toDF("doc_id", "text")
    val baseEmb = spark.createDataFrame(corpus.base.collect {
      case (id, _, Some(e)) => (id, e) }).toDF("vec_id", "embedding")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[(Long, String, Array[Double])]
    addBatch(0)
    clock {
      NearDupIndex.buildIndex(base, ndx)
      SpanIndex.buildIndex(base, spx)
      AnnAdmitIndex.buildIndex(baseEmb, IvfOps.trainBounded(baseEmb), ann)
      query = AdmissionStream.ingestFull(input.toDF().toDF("doc_id", "text", "embedding"),
        ndx, spx, ann, out, work.resolve("checkpoint").toString, TauMicro, NProbe,
        maintainEvery = MaintainEvery)
      query.processAllAvailable()
    }
    checkManifest(0).foreach(e => throw new IllegalStateException(s"warm-up batch: $e"))
    verdicts.clear() // the per-tier totals cover the timed batches only
    copyTree(work.resolve("index"), preBatch1)
  }

  private def addBatch(id: Int): Unit =
    input.addData(corpus.batch(id).map { case (doc, text, e) => (doc, text, e.orNull) })

  def storedBytes: Long = Seq(ndx, spx, ann).map(r => Probe.dirBytes(Path.of(r))).sum

  def run(i: Int, t: Tracer): Done = {
    val id = i + 1 // batch 0 was the warm-up
    t.span("harness.add_data")(addBatch(id))
    val wallNs = System.nanoTime()
    t.span("streaming.process_all") {
      query.processAllAvailable()
      // the trigger's phases, from the stream's own progress report, laid
      // out from the trigger start as children of this span
      var at = wallNs
      for (p <- query.recentProgress if p.batchId == id;
           (k, name) <- Phases; d <- Option(p.durationMs.get(k))) {
        t.record(name, at, d.longValue * 1000000L)
        at += d.longValue * 1000000L
      }
    }
    Done("admit.batch", corpus.batch(id).size, () =>
      checkManifest(id).orElse(if (id == 1) replay(id) else None))
  }

  /** One decision row per distinct content, covering every batch document
    * and no other. Counts the decisions toward the per-tier totals. */
  private def checkManifest(id: Int): Option[String] = {
    val batch = corpus.batch(id)
    val m = spark.read.parquet(s"$out/batch=$id").collect()
    m.foreach(r => verdicts(r.getAs[String]("decision")) += r.getAs[Long]("n_batch_copies"))
    val copies = m.map(_.getAs[Long]("n_batch_copies")).sum
    val ids = m.map(_.getAs[Long]("doc_id")).toSet
    if (copies != batch.size) Some(s"batch $id: ${m.length} decisions cover $copies of ${batch.size} docs")
    else if (!ids.subsetOf(batch.map(_._1).toSet)) Some(s"batch $id: decision for a foreign doc")
    else None
  }

  private def tailSizes: Seq[Int] =
    Seq(NearDupIndex.tailSize(ndx), SpanIndex.tailSize(spx), AnnAdmitIndex.tailSize(ann))

  /** The batch composition over the pre-batch index copy must decide every
    * content exactly as the stream did. */
  private def replay(id: Int): Option[String] = {
    def decisions(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("decision")).toMap
    val streamed = decisions(spark.read.parquet(s"$out/batch=$id").collect())
    val df = spark.createDataFrame(corpus.batch(id).map { case (doc, text, e) =>
      (doc, text, e.orNull) }).toDF("doc_id", "text", "embedding")
    val emb = df.filter(col("embedding").isNotNull)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val r = preBatch1.toString
    val got = decisions(ShardAdmission.reportFullEpoch(df, emb, s"$r/neardup", s"$r/span",
      s"$r/ann", TauMicro, NProbe, pin = false).collect())
    if (got == streamed) None
    else Some(s"batch $id replay differs: ${(got.toSet diff streamed.toSet).take(3)} vs " +
      (streamed.toSet diff got.toSet).take(3))
  }

  override def layers: Map[String, Double] = {
    val triggers = query.recentProgress.toSeq.filter(_.batchId >= 1) // timed batches
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue))
    val live = Seq(ndx, spx, ann).flatMap(r =>
      EpochStore.committedEpochs(r).map(e => Path.of(r, EpochStore.entryPath(e))))
    val covered = live.map(_.resolve("covered.json")).filter(Files.exists(_)).map(Files.size)
    Map(
      "streaming.trigger_ms" -> Probe.median(triggers),
      "core.epochs" -> live.size.toDouble,
      "core.tail_size" -> tailSizes.sum.toDouble,
      "core.covered_json_bytes" -> covered.sum.toDouble) ++
      Decisions.map(d => s"streaming.verdict.$d" -> verdicts(d).toDouble)
  }

  override def close(): Unit = if (query != null) query.stop()
}

object AdmissionLoop {
  type Doc = (Long, String, Option[Array[Double]])
  val BaseDocs = 600
  val BatchDocs = 100
  val MaxBatches = 64
  val MaintainEvery = 1
  val TauMicro = 950000L
  val NProbe = 8
  val Dim = 32
  private val Phases = Seq("addBatch" -> "streaming.add_batch",
    "queryPlanning" -> "streaming.query_planning", "walCommit" -> "streaming.wal_commit")
  val Decisions = Seq("reject_exact", "reject_near", "reject_embed", "trim_spans", "admit")

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** A seeded corpus: a base slice the indexes start from, then the stream.
    * Every stream batch has the same make-up, in a seeded order: six in ten
    * documents are novel, and one in ten each is a copy of an earlier
    * batch's document of a kind one tier should catch — exact, near (one
    * word changed), remix (spliced from two documents) or semantic (novel
    * text, an earlier embedding plus noise). Six in ten of the other
    * documents carry an embedding. */
  final case class Corpus(base: Seq[Doc], stream: Seq[Doc]) {
    def batch(i: Int): Seq[Doc] = stream.slice(i * BatchDocs, (i + 1) * BatchDocs)
  }

  object Corpus {
    private val vocab = (0 until 2000).map(i => s"w$i")

    private val BatchMix = Seq.fill(6)("novel") ++ Seq("exact", "near", "remix", "semantic")

    def generate(seed: Long): Corpus = {
      val r = Gen.rng(seed, 5)
      val seeded = scala.util.Random.javaRandomToRandom(r)
      def words() = Seq.fill(20 + r.nextInt(60))(vocab(r.nextInt(vocab.size)))
      def vec(): Array[Double] = Array.fill(Dim)(r.nextGaussian())
      def emb(): Option[Array[Double]] = if (r.nextInt(10) < 6) Some(vec()) else None
      val docs = mutable.ArrayBuffer.empty[Doc]
      (0 until BaseDocs).foreach(i => docs += ((i.toLong, words().mkString(" "), emb())))
      (0 until MaxBatches).foreach { _ =>
        val earlier = docs.size // sources come from before this batch
        def source() = docs(r.nextInt(earlier))
        val kinds = seeded.shuffle(Seq.fill(BatchDocs / BatchMix.size)(BatchMix).flatten)
        kinds.foreach { kind =>
          val id = docs.size.toLong
          val (_, text, e) = source()
          val toks = text.split(' ')
          docs += (kind match {
            case "novel" => (id, words().mkString(" "), emb())
            case "exact" => (id, text, emb())
            case "near" =>
              val edited = toks.clone()
              edited(r.nextInt(edited.length)) = vocab(r.nextInt(vocab.size))
              (id, edited.mkString(" "), emb())
            case "remix" =>
              val (_, other, _) = source()
              (id, (toks.take(toks.length / 2 + 1) ++ other.split(' ').take(20))
                .mkString(" "), emb())
            case _ =>
              val anchor = Iterator.continually(source()._3).flatten.next()
              (id, words().mkString(" "), Some(anchor.map(_ + 0.01 * r.nextGaussian())))
          })
        }
      }
      Corpus(docs.take(BaseDocs).toSeq, docs.drop(BaseDocs).toSeq)
    }
  }
}
