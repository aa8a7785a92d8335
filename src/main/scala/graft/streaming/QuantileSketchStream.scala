package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

import graft.llm.{Text, TextAnalysis}

/** STREAMED quantile sketch — the bottom-k rank sketch
  * ([[TextAnalysis.quantileSketchOf]]) maintained ONLINE with bounded
  * state: arriving documents hash to one of 64 shards, and each shard's
  * state is exactly its k smallest (hash, value) pairs plus its row
  * count — `mapGroupsWithState` with O(64·k) total state regardless of
  * how much stream has flowed through, the property that distinguishes
  * a sketch from a collect. Each micro-batch folds into the shard
  * buffer in O(batch·log k) (a bounded max-heap — never materializing
  * the batch), and bottom-k's associativity makes the fold ORDER-FREE:
  * the drained state equals the batch tournament's sample exactly, so
  * the entry (`text_quantile_sketch_streamed`) shares the batch oracle
  * VERBATIM — stream-batch equivalence extended to the sketch family.
  *
  * The certification legs (each estimate's rank in the full corpus) are
  * computed at drain time against the committed table, like the batch
  * entry — the ONLINE piece is the sample maintenance, which is the
  * part a 100 TB ingest pipeline runs continuously.
  *
  * 100 TB: per-row hashing pipelines; the only shuffle is the 64-key
  * shard exchange; state is 64 shard rows of k pairs each. An
  * update-mode deployment emits only touched shards per trigger (the
  * dynamic-partition overwrite below is that discipline — untouched
  * shards keep their last state). */
object QuantileSketchStream {

  import TextAnalysis.QskK

  /** One hashed observation routed to its shard. */
  private[graft] case class QskRow(shard: Long, h: Long, x: Long)

  /** A shard's bounded state: its k smallest pairs (h-sorted, parallel
    * arrays) and its exact row count. */
  private[graft] case class QskShard(shard: Long, hs: Array[Long],
    xs: Array[Long], n: Long)

  /** Fold a shard's micro-batch slice into its bounded buffer: a max-
    * heap of size ≤ k on h — each arriving pair either displaces the
    * current worst or is dropped, O(log k) per row, O(k) memory. */
  private[graft] def mergeShard(shard: Long, rows: Iterator[QskRow],
      st: GroupState[QskShard]): QskShard = {
    val cur = st.getOption.getOrElse(
      QskShard(shard, Array.empty, Array.empty, 0L))
    val pq = new scala.collection.mutable.PriorityQueue[(Long, Long)]()(
      Ordering.by(_._1))
    cur.hs.zip(cur.xs).foreach(pq.enqueue(_))
    var n = cur.n
    rows.foreach { r =>
      n += 1
      if (pq.size < QskK) pq.enqueue((r.h, r.x))
      else if (r.h < pq.head._1) { pq.dequeue(); pq.enqueue((r.h, r.x)) }
    }
    val kept = pq.toArray.sortBy(_._1)
    val next = QskShard(shard, kept.map(_._1), kept.map(_._2), n)
    st.update(next)
    next
  }

  /** The streaming-legal core over any (doc_id, n_chars) stream:
    * stateless hash+shard projection, then ONE 64-key stateful fold.
    * Batch-legal from the same definition (the spec drives it with
    * MemoryStream for the cross-batch case). */
  private[graft] def shardStates(d: DataFrame): Dataset[QskShard] = {
    val s = d.sparkSession
    import s.implicits._
    d.select(
        Text.hash64(concat(lit("qsk|"), col("doc_id").cast(StringType)))
          .as("h"),
        col("n_chars").as("x"))
      .withColumn("shard", pmod(col("h"), lit(64L)))
      .as[QskRow]
      .groupByKey(_.shard)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(mergeShard)
  }

  /** Finish from the drained shard states: union + re-take (bottom-k
    * mergeability), exact n from the shard counts, then the shared
    * [[TextAnalysis.qskResult]] — identical to the batch tournament by
    * associativity. */
  private[graft] def finishFrom(states: DataFrame,
      corpus: DataFrame): DataFrame = {
    val pairs = states
      .select(explode(arrays_zip(col("hs"), col("xs"))).as("p"))
      .select(col("p.hs").as("h"), col("p.xs").as("x"))
      .orderBy(col("h")).limit(QskK)
    val sampleAndN = pairs
      .agg(sort_array(collect_list(col("x"))).as("xs"))
      .crossJoin(states.agg(sum(col("n")).as("n_rows")))
      .select(col("n_rows"), col("xs"))
    TextAnalysis.qskResult(corpus, sampleAndN)
  }

  /** The drained streamed sketch over the corpus file. */
  def quantileSketchStreamed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StateRoot.once(s, "events", dir, "qsketch") { out =>
      val states = shardStates(EventsSource.fileStream(s, dir, "documents")).toDF()
      graft.StateRoot.drain(states, "update", out) { (b, _) =>
        // update mode emits only touched shards; dynamic-partition
        // overwrite replaces exactly those, untouched shards keep
        // their last written state
        b.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard").parquet(s"$out/result")
      }
    }
    finishFrom(s.read.parquet(s"$out/result"),
      s.read.parquet(s"$dir/documents.parquet")
        .repartition(s.sparkContext.defaultParallelism))
  }
}
