package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** STREAMING IVF index maintenance — the ingest path every deployed ANN
  * index runs: new vectors arrive on a stream, each is assigned to its
  * nearest centroid of the EXISTING index (the committed artifact a
  * deployment loads, not retrains — see [[graft.IndexStore]]) and
  * appended to that centroid's inverted list. The per-row assignment is
  * a fold against ONE broadcast row packing all K centroids (the r14
  * classifier shape — no K× row blowup, no shuffle on the hot ingest
  * path), and the only stateful piece is the INVERTED-LIST CENSUS — per
  * cent_id: list size and min/max vec_id — the bookkeeping an index
  * server consults for probe planning and for deciding when a list has
  * drifted enough to retrain.
  *
  * Verification (the streamed-twin discipline of
  * [[NearDupStream.minhashCensusStreamed]]): the embeddings file
  * streamed through a file source, assigned per row, aggregated in
  * complete mode, drained with `Trigger.AvailableNow`; the drained table
  * equals the batch census over [[Similarity.ivfIndex]]'s rn=1
  * assignment (both entries share one DuckDB oracle that recomputes the
  * argmax assignment from raw embeddings — IvfIngestStreamSpec pins
  * stream-batch equality plus the cross-batch arrival case).
  *
  * 100 TB: assignment is stateless per-row work against K broadcast
  * centroids; census state is K slim rows (one per inverted list), so
  * state never grows with the stream; the assigned vectors themselves
  * would be appended to a cent_id-bucketed sink (the [[Similarity.ivfTopK]]
  * layout note) — the census here is the index-health surface of that
  * write. */
object IvfIngestStream {

  /** Inverted-list census over any (vec_id, cent_id) assignment.
    * Streaming-legal (one keyed aggregation) and batch-legal from the
    * same definition. */
  private[graft] def censusOf(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cent_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))

  /** Per-row nearest-centroid assignment of a (vec_id, embedding)
    * relation against a packed (cent_id, cv) centroid relation — the
    * argmax over (sim desc, cent_id asc), i.e. exactly the rn = 1 row of
    * [[Similarity.ivfIndexOf]]'s window, computed WITHOUT a window so it
    * is stream-legal: array_max over (sim, -cent_id) structs picks max
    * sim, tie -> min cent_id. Same fused [[Similarity.cosine]] kernel as
    * the batch index build, so the two paths agree bit for bit. */
  private[graft] def assignStream(e: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cv")))).as("cents"))
    def best(cents: Column): Column =
      negate(array_max(transform(cents, c =>
        struct(
          Similarity.cosine(col("embedding"), c.getField("cv")).as("s"),
          negate(c.getField("cent_id")).as("nc"))))
        .getField("nc"))
    e.join(broadcast(packed))
      .select(col("vec_id"), best(col("cents")).as("cent_id"))
  }

  /** The batch twin: census over the memoized [[Similarity.ivfIndex]]
    * rn = 1 assignment (the index build's own output — one definition of
    * "assigned" for index, probe, and census). */
  def census(s: SparkSession, dir: String): DataFrame =
    censusOf(Similarity.ivfIndex(s, dir).where(col("rn") === 1))
      .orderBy(col("cent_id"))

  /** The drained streaming census — every occupied inverted list. */
  def censusStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "ivf_census") { out =>
      val cents = s.read.parquet(s"$dir/embeddings.parquet")
        .where(col("vec_id") >= Similarity.CentroidBase &&
          col("vec_id") < Similarity.CentroidBase + Similarity.Centroids)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      val embStream = EventsSource.fileStream(s, dir, "embeddings")
      graft.StateRoot.drain(censusOf(assignStream(embStream, cents)), "complete", out)(
        (b, _) => b.write.mode("overwrite").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result").orderBy(col("cent_id"))
  }
}
