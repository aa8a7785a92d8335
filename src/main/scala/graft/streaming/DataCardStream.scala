package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.Text

/** STREAMING per-source data card — the VOLUME half of the batch
  * [[graft.llm.Corpus.dataCard]] maintained incrementally on a live
  * document stream: per source, doc/char/token volumes, mean doc
  * length, and the language inventory size. Everything per-row derives
  * in the stream's stateless projection; the stateful piece is ONE
  * keyed aggregation whose state is a row per source (counts, sums, and
  * the language set — bounded by the language inventory, not the
  * corpus). The two batch-only card columns (top language, duplicate
  * exposure) are deliberately out of scope here: top-lang needs a rank
  * over the (source × lang) counts (a second stateful stage) and the
  * dup flag needs the corpus-wide hash census — an ingest deployment
  * reads those from the nightly batch card while THIS aggregation keeps
  * the volume dashboard current.
  *
  * Verification (the streamed-twin discipline): the same documents file
  * streamed through a file source, aggregated in complete mode, drained
  * with AvailableNow — the result then equals the batch aggregation
  * outright, and the registered entry (`corpus_data_card_streamed`)
  * hash-matches a DuckDB oracle computing the same card columns.
  * Count/sum/set aggregates are order-insensitive, so the card is
  * deterministic under any micro-batch split (DataCardStreamSpec pins
  * the cross-batch accumulation).
  *
  * 100 TB: per-source state is a handful of counters plus a
  * language-inventory set; an update-mode deployment emits only touched
  * sources per trigger. */
object DataCardStream {

  /** The streaming-legal card aggregation over any
    * (source, lang, n_chars, text) relation — batch-legal from the same
    * definition (the spec's stream-batch equivalence). */
  private[graft] def cardOf(d: DataFrame): DataFrame =
    d.select(col("source"), col("lang"), col("n_chars"),
      size(Text.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        collect_set(col("lang")).as("langs"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("total_tokens"),
        round(col("total_tokens").cast(DoubleType) / col("n_docs"), 6)
          .as("mean_tokens"),
        size(col("langs")).cast(LongType).as("n_langs"))

  /** The drained streamed card, ordered for the compare harness. */
  def dataCardStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "data_card") { out =>
      graft.StateRoot.drain(
        cardOf(EventsSource.fileStream(s, dir, "documents")), "complete", out)(
        (b, _) => b.write.mode("overwrite").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result").orderBy(col("source"))
  }
}
