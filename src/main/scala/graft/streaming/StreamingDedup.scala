package graft.streaming

import graft.llmdata.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication (SURVEY.md §2.10 stretch × the dedup
  * ladder tier 1): documents arrive as a file stream, are fingerprinted
  * (md5 of normalized text — the same key as batch
  * [[graft.llmdata.Dedup]]), and duplicates are dropped in-stream.
  *
  * Scale notes: `dropDuplicates` on an unbounded stream keeps one state
  * row PER DISTINCT KEY forever — fine for a bounded backfill, fatal for
  * a perpetual ingest. The production path is
  * [[distinctFingerprintsWithinWatermark]]: with an event-time watermark,
  * `dropDuplicatesWithinWatermark` evicts key state once the watermark
  * passes it, bounding state to the dedup horizon (exactly the guarantee
  * a 100 TB ingest needs — re-crawled documents cluster in time).
  */
object StreamingDedup {

  /** file-source stream over a parquet path; a single file is staged into
    * a temp dir via symlink (streaming file sources monitor directories —
    * shared, collision-free staging in [[StreamStaging]]).
    */
  def parquetStream(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema).parquet(StreamStaging.dirFor(path))
  }

  /** The DETERMINISTIC projection of streaming dedup: the distinct
    * fingerprint set. (Which physical ROW survives `dropDuplicates` is
    * arrival-order-dependent — only the key set is reproducible, and it
    * is what the batch oracle mirrors.)
    */
  def distinctFingerprints(docs: DataFrame): DataFrame =
    docs
      .select(TextOps.fingerprint(col("text")).as("fp"))
      .dropDuplicates("fp")

  /** Bounded-state variant: event-time watermark + state eviction at the
    * dedup horizon. Duplicates farther apart than the horizon are NOT
    * collapsed — the contract is windowed dedup, the only one with
    * bounded state on an unbounded stream.
    */
  def distinctFingerprintsWithinWatermark(
      docs: DataFrame, tsCol: String, horizon: String): DataFrame =
    docs
      .select(TextOps.fingerprint(col("text")).as("fp"), col(tsCol).as("ts"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")
}
