package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.{PinScope, StateStore}
import graft.server.CrawlPipeline

/** Structured-Streaming front end for the ingest dataflow (SURVEY §2.9).
  *
  * The reference's server is a polling loop with hybrid time/size flush
  * triggers (flush every 5 s or when a queue fills —
  * `Server/__init__.py:297-325`, `config.json:24-29`). The Spark-native
  * equivalent: staged scrape rows land as parquet drops in a staging
  * directory; a streaming query micro-batches them
  * (`Trigger.ProcessingTime(5s)` = the time trigger, `maxFilesPerTrigger`
  * = the size cap) and `foreachBatch` merges each micro-batch with the
  * batch pipeline's own merge core, `CrawlPipeline.mergeScrape`, so the
  * pin and write-once rules live in one place (the `CrawlPipeline` doc).
  * Backpressure is inherent — one batch in flight.
  *
  * Exactly-once: the merge keys are idempotent (same posture as the
  * reference's ON CONFLICT DO NOTHING), so replayed batches after a crash
  * converge to the same state; the checkpoint dir gives at-least-once
  * delivery of every staged file.
  */
object StreamingIngest {

  /** Schema of staged scrape drops (one parquet file per crawl flush):
    * matches `FsScrape.ScrapeRecord`. */
  val stageSchema: StructType = org.apache.spark.sql.Encoders
    .product[graft.sources.FsScrape.ScrapeRecord].schema

  /** Start the merge stream over a staging directory. Each micro-batch
    * runs [[mergeBatch]], so the streaming front end reaches the same
    * fixpoint state as `CrawlPipeline.crawlRound` over the same scrape
    * drops. `asOfOverride` pins batch timestamps for deterministic tests. */
  def start(state: StateStore, stageDir: String, checkpointDir: String,
            triggerMs: Long = 5000, maxFilesPerTrigger: Int = 100,
            asOfOverride: Option[Timestamp] = None,
            hashInline: Boolean = false,
            fileBuckets: Int = 0): StreamingQuery = {
    val spark = state.spark
    val stream = spark.readStream
      .schema(stageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(stageDir)

    stream.writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(state, batch,
          asOfOverride.getOrElse(new Timestamp(System.currentTimeMillis())),
          hashInline = hashInline, fileBuckets = fileBuckets)
      }
      .start()
  }

  /** One micro-batch merge round (shared with tests; pure batch logic).
    * The micro-batch is the staging table, as `.stage_scrape` is the crawl
    * round's: pinned once, one row per `(kind, fullPath)`, so the change
    * decision and the upsert see the same row of a file listed twice. A
    * batch asserts completeness only for directories whose `self` record
    * it carries. `directory_control` loses the removed dirs in one last
    * write; with `hashInline`, hash rounds then drain the queue. */
  def mergeBatch(state: StateStore, batch: DataFrame, asOf: Timestamp,
                 hashInline: Boolean = false, fileBuckets: Int = 0): Unit = {
    val cfg = CrawlPipeline.Config(fileBuckets = fileBuckets)
    val anyStaged = PinScope { pin =>
      val staged = pin(batch.dropDuplicates("kind", "fullPath"))
      val nonEmpty = !staged.isEmpty
      if (nonEmpty) {
        val merged = CrawlPipeline.mergeScrape(state, staged, asOf, cfg, pin)
        if (merged.doomedDirs.nonEmpty)
          state.write("directory_control", merged.withoutDoomed(state.read("directory_control")))
      }
      nonEmpty
    }

    // M4: drain the queue inline when requested (the batch pipeline runs
    // this as its own round; a streaming deployment can also keep it as a
    // separate consumer — both read the same hash_control queue)
    if (anyStaged && hashInline) while (CrawlPipeline.hashRound(state, asOf, cfg = cfg) > 0) ()
  }
}
