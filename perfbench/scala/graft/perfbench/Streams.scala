package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.streaming.StreamingPipelines

/** The maintained near-dup stream of the `stream_state` workload, fed one
  * of the generator's seeded micro-batch files (`gen.py`) per trigger
  * (`maxFilesPerTrigger = 1`).
  */
object Streams {

  /** Batches per state compaction. The stream's default is 16, but two
    * cycles of 16 (33 micro-batches) take about 60 s on 4 cores, more
    * than the run budget allows; every 4 batches, 9 batches give two.
    */
  val CompactEvery = 4

  /** State root of the stream that is running, watched for compactions. */
  @volatile var activeState: Option[String] = None
  /** Compaction generations seen, as (call key, generation dir). */
  val compactions = mutable.LinkedHashSet.empty[(String, String)]
  /** Micro-batches after which a new generation appeared. */
  val compactingBatches = mutable.ArrayBuffer.empty[(String, Long)]
  /** (files, bytes) of each stream's persisted state at its end. */
  val finalState = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile var activeKey = ""
  /** Progress listener attached to each stream's own session. */
  @volatile var listener: Option[BatchListener] = None

  /** Called after every committed micro-batch. */
  def afterBatch(batchId: Long): Unit = activeState.foreach { root =>
    val gens = Option(new File(root).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("compacted_g"))
    synchronized {
      gens.foreach { g =>
        if (compactions.add((activeKey, s"$root/$g")))
          compactingBatches += ((activeKey, batchId))
      }
    }
  }

  /** Runs the stream over the micro-batch files to its end and collects
    * its matches.
    */
  def nearDup(s: SparkSession, in: Inputs): Out = {
    val iso = s.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", "4")
    listener.foreach(iso.streams.addListener)
    val root = s"${in.work}/stream_near_dup"
    Files.delete(new File(root))
    val (state, out, ckpt) = (s"$root/state", s"$root/out", s"$root/ckpt")
    new File(state).mkdirs()
    val src = s"${in.gen}/stream"
    val schema = iso.read.parquet(src).schema
    activeKey = "streaming.near_dup"
    // a later pass rewrites the same generation dirs
    synchronized { compactions.clear() }
    activeState = Some(state)
    try {
      val q = StreamingPipelines.nearDupStream(
        iso.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(src),
        "doc_id", "text", state, out, ckpt, compactEvery = CompactEvery)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val result = Out.of(StreamingPipelines.nearDupMatches(iso, out))
      val (files, bytes) = Files.usage(new File(state))
      synchronized { finalState += ((activeKey, files, bytes)) }
      result
    } finally activeState = None
  }
}
