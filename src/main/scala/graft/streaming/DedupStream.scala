package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Shingles
import graft.operators.Dedup

/** A streamed document (the daily-crawl record arriving on the wire). */
final case class StreamDoc(doc_id: Long, text: String)

/** STREAMING face of incremental near-dup dedup (verdict r12 №5) — the
  * reference's DLQ-split shape (`avro_order_consumer.py:123-155`)
  * applied to dedup: each micro-batch of arriving documents is
  * shingled, MinHash-banded, probed against the PERSISTED history band
  * index with the ≥2-band rule, exact-Jaccard-verified against the
  * history doc-set artifact, and routed — fresh documents to the main
  * (accept) sink, near-duplicates of the index to the dup sink with
  * provenance. The probe stage is [[Dedup.probeVerdicts]], the SAME
  * code the batch operator (`q_incremental_minhash`) runs, so the
  * streaming verdicts cannot drift from the batch semantics
  * (DedupStreamSpec pins exact equality across ≥2 micro-batches).
  *
  * Scale shape: the history index is built ONCE per corpus (and keyed
  * on the corpus fingerprint, so a re-crawled history rebuilds it);
  * per micro-batch work is batch-sized — the band probe ships the
  * KB-sized banded batch to the partitioned index, never the reverse.
  */
object DedupStream {

  /** The HISTORY side's band index (`bands`) and doc sets (`sets`) —
    * doc_id % 5 != 4, the same ingest split the batch operator uses. */
  private[graft] val HistoryIndex = graft.Indexes.Artifact("hist-ix") {
    (spark, dir, out) =>
      val histEx = Dedup.shingleIndex(spark, dir)
        .filter(col("doc_id") % 5 =!= 4)
      Dedup.bandTableOf(histEx).write.mode("overwrite").parquet(s"$out/bands")
      Dedup.docSetsOf(histEx).write.mode("overwrite").parquet(s"$out/sets")
  }

  /** foreachBatch splitter: route each micro-batch's fresh docs to
    * `newSink` and near-dups of the history index to `dupSink`, each
    * dup carrying (best_match, n_matches) provenance. Use with
    * `docStream.writeStream.foreachBatch(dedupSplit(spark, dir, m, d))`.
    * A document producing zero shingles (empty text) gets no verdict
    * and is routed to neither sink — identical to the batch operator,
    * whose verdict base is the shingle index. */
  def dedupSplit(spark: SparkSession, dir: String,
      newSink: (DataFrame, Long) => Unit,
      dupSink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val ix = HistoryIndex.path(spark, dir)
    (batch: DataFrame, batchId: Long) => {
      val s = batch.sparkSession
      val batchEx = batch
        .select(col("doc_id"), explode(Shingles(col("text"), 3)).as("shingle"))
      val verdicts = Dedup.probeVerdicts(batchEx,
        s.read.parquet(s"$ix/bands"), s.read.parquet(s"$ix/sets")).cache()
      try {
        val routed = batch.join(verdicts, "doc_id")
        newSink(routed.filter(col("verdict") === "new")
          .select("doc_id", "text"), batchId)
        dupSink(routed.filter(col("verdict") =!= "new")
          .select(col("doc_id"), col("text"), col("best_match"),
            col("n_matches"),
            lit("near_dup_of_index").as("reason")), batchId)
      } finally verdicts.unpersist()
    }
  }
}
