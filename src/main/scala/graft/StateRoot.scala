package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Where the engine keeps state on disk: one root, one directory per
  * (name, scale-factor dir).
  *
  *  - [[path]] is `<root>/graft-<name>/<tag>`, the tag being the sf dir
  *    with every non-alphanumeric character replaced by `_`, then `_` and
  *    the hex of its `hashCode`. Directories meant to outlive a session
  *    ([[IndexStore]]'s artifacts, the warehouse tables) use it directly.
  *  - [[once]] builds a directory once per session: the first call wipes
  *    it, runs the build and records it; later calls in the same session
  *    return the path. A new session rebuilds, so nothing is cached across
  *    runs. A build that throws is not recorded, and the next call wipes
  *    and retries it.
  *  - [[drain]] runs a streaming query to completion with
  *    `Trigger.AvailableNow`, its checkpoint at `<out>/_checkpoint`. Under a
  *    directory [[once]] has just wiped, that checkpoint cannot be stale, so
  *    every drain reprocesses its source from the start.
  */
object StateRoot {

  private val Prefix = "/root/repo/target/graft-"

  /** The sf dir's directory and catalog-name component. */
  def tag(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_") + "_" + Integer.toHexString(sfDir.hashCode)

  def path(name: String, sfDir: String): String = s"$Prefix$name/${tag(sfDir)}"

  private val built = new SessionMemo[Unit]

  /** One lock per directory, not one for all: a drain's sink runs on the
    * stream's own thread, which a single lock held by the draining build
    * would block as soon as the sink needed another directory. A build
    * that needs another directory first takes that directory's lock in
    * the same thread. */
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Build `path(name, sfDir)`, or its `sub` directory, once per session;
    * returns the directory. */
  def once(s: SparkSession, name: String, sfDir: String, sub: String = "")(
      build: String => Unit): String = {
    val dir = if (sub.isEmpty) path(name, sfDir) else s"${path(name, sfDir)}/$sub"
    locks.computeIfAbsent(dir, _ => new Object).synchronized {
      if (!built.contains(s, dir)) {
        val p = new Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        build(dir)
        built.put(s, dir, ())
      }
    }
    dir
  }

  /** Make the next [[once]] for this directory in this session rebuild it. */
  def forget(s: SparkSession, name: String, sfDir: String): Unit =
    built.remove(s, path(name, sfDir))

  /** Drain `df` into `sink`, called with each micro-batch and its id, and
    * wait for the end. */
  def drain(df: DataFrame, outputMode: String, out: String)(
      sink: (DataFrame, Long) => Unit): Unit =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", s"$out/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
      .awaitTermination()
}
