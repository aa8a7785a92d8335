package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.llm.{Dedup, Text}

/** STREAMED containment screening — the ingest shape of
  * [[Dedup.containment]] (r16, the [[DecontaminateStream]] discipline):
  * "is this arriving document an excerpt of something the corpus
  * already holds?" The corpus-side inverted index and shingle sets are
  * the committed OFFLINE artifacts (shared definitions with the batch
  * entry); each ARRIVING doc is shingled per row (stateless) and probes
  * the static index in a stream-static join, one (arrival, candidate)
  * keyed fold counts the shared distinct shingles, and the exact
  * integer gate (inter·5 ≥ 4·n_a) admits the qualifying pairs with both
  * metrics. Shares the batch oracle VERBATIM — the hash match certifies
  * offline-index == online-screen under any micro-batch split AND
  * (because the batch side prunes with the prefix filter while this
  * per-arrival probe is brute) re-certifies the batch pruning's
  * losslessness from a second direction.
  *
  * 100 TB: the per-arrival probe is the deployment shape — an arriving
  * doc's shingles look up the index (cost Σ df over ITS shingles, the
  * price of screening one document), totally unlike the batch n×n case
  * the prefix filter exists for; the only state is the in-flight
  * (arrival, candidate) counts. A continuous deployment runs update
  * mode and routes qualifying arrivals to the dedup queue. */
object ContainmentStream {

  def containmentStreamed(s: SparkSession, dir: String): DataFrame = {
    val sets = Dedup.shingleSets(s, dir)
    val out = graft.StateRoot.once(s, "events", dir, "containment") { out =>
      graft.StateRoot.drain(
        aggedOf(EventsSource.fileStream(s, dir, "documents"), sets), "complete", out)(
        (b, _) => b.write.mode("overwrite").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result").orderBy(col("doc_a"), col("doc_b"))
  }

  /** The streaming-legal core: per-row shingling, stream-static probe of
    * the corpus inverted index, one keyed fold, the exact integer gate.
    * Batch-legal from the same definition (ContainmentStreamSpec drives
    * it with MemoryStream and pins equality with the batch prefix-
    * filtered form). */
  private[graft] def aggedOf(docStream: DataFrame,
      sets: DataFrame): DataFrame = {
    val index = sets.select(col("doc_id").as("doc_b"),
      col("n").as("n_b"), explode(col("sset")).as("sh"))
    val arriving = docStream
      .select(col("doc_id").as("doc_a"),
        Text.shingles(col("text"), Dedup.ShingleK).as("sset"))
      .where(size(col("sset")) >= 1)
      .select(col("doc_a"), size(col("sset")).cast(LongType).as("n_a"),
        explode(col("sset")).as("sh"))
    arriving
      .join(index, Seq("sh"))
      .where(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).cast(LongType).as("inter"))
      .where(col("inter") * lit(Dedup.ContainmentDen) >=
        lit(Dedup.ContainmentNum) * col("n_a"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("n_a")).as("containment"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .withColumn("resemblance_missed",
        col("jaccard") < lit(Dedup.JaccardThreshold))
  }
}
