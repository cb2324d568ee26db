package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.ListenerBusShim

import graft.SparkSpec

/** Pins the r12-directed state layer of
  * [[StreamingPipelines.nearDupStream]]:
  *
  *  1. the state path resolves through the Hadoop FileSystem API, so a
  *     NON-`file:` scheme ([[TestFs]]) yields the exact same matches a
  *     local path does — the r12 defect (`java.io.File` enumeration)
  *     silently emptied the probe index and reported zero duplicates
  *     on any such scheme;
  *  2. periodic compaction folds the per-batch band/set subdirs into
  *     one `compacted_g<upto>` generation in the persisted
  *     [[graft.dedup.IncrementalNearDup.Index]] layout, keeping the
  *     per-batch listing bounded by `compactEvery` tail dirs + 1
  *     generation on an arbitrarily long stream, without changing a
  *     single emitted match;
  *  3. the Spark job count of a probing and of a compacting micro-batch,
  *     so a schema-inference read or a one-use persist that creeps back
  *     into the batch path fails here, not only in a benchmark.
  */
class NearDupStreamStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** 40-word doc from vocabulary group `g`; one mid-word mutation keeps
    * jaccard ≈ 0.854 ≥ 0.8 (the StreamingPipelinesSpec fixture).
    */
  private def doc(g: Int, mut: Boolean = false): String =
    (0 until 40).map(i =>
      if (mut && i == 20) s"v${g}_$i" else s"w${g}_$i").mkString(" ")

  /** Write `waves` as mtime-ordered single files and drain them as
    * one-file micro-batches through nearDupStream.
    */
  private def drain(waves: Seq[Seq[(Long, String)]], statePath: String,
      compactEvery: Int = 16): (String, String) = {
    val (src, out, ckpt) =
      (tmpDir("ndst_src"), tmpDir("ndst_out"), tmpDir("ndst_ckpt"))
    waves.foreach { w =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipelines.nearDupStream(stream, "doc_id", "text",
      statePath, out, ckpt, compactEvery = compactEvery)
      .awaitTermination()
    (out, ckpt)
  }

  test("non-file:// state scheme produces the same matches as a " +
      "local path (Hadoop FS resolution, the r12 X97 fix)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.testfs.impl", classOf[TestFs].getName)
    val waves = Seq(
      Seq(1L -> doc(1), 2L -> doc(2)),
      Seq(3L -> doc(1, mut = true), 4L -> doc(3)),
      Seq(5L -> doc(3), 6L -> doc(2)))
    val localState = tmpDir("ndst_state_fs")
    // the state path the stream sees carries the testfs: scheme — the
    // r12 java.io.File enumeration returns exists=false for every such
    // path, which silently emptied the probe index (zero matches)
    val (out, _) = drain(waves, s"testfs:$localState")
    val got = StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(got === Set((3L, 1L), (5L, 4L), (6L, 2L)),
      s"non-local scheme must probe the full index: $got")
    // the state physically landed under the local dir via TestFs
    assert(new java.io.File(s"$localState/sets").isDirectory,
      "testfs: state must resolve to the backing local directory")
  }

  test("state and checkpoint survive a QUERY RESTART: a two-phase " +
      "drain (6 waves, stop, 6 more waves, new query, same " +
      "checkpoint/state) equals the single drain") {
    def waveFor(i: Long): Seq[(Long, String)] = Seq(i -> doc(1))
    val (src, state, out, ckpt) = (tmpDir("ndrs_src"),
      tmpDir("ndrs_state"), tmpDir("ndrs_out"), tmpDir("ndrs_ckpt"))
    def write(waves: Seq[Long]): Unit = waves.foreach { i =>
      waveFor(i).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(30)
    }
    def drainOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      StreamingPipelines.nearDupStream(stream, "doc_id", "text",
          state, out, ckpt, compactEvery = 4)
        .awaitTermination()
    }
    write(0L until 6L)
    drainOnce() // phase 1: checkpoint commits batches 0..5
    write(6L until 12L)
    drainOnce() // RESTART: a new query resumes from the checkpoint
    val got = StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet
    val want = (for (a <- 0L until 12L; b <- 0L until a)
      yield (a, b)).toSet
    assert(got === want,
      "a restarted query must see the full pre-restart index and " +
        "emit exactly the single-drain matches")
    // the restart continued batch numbering, so compaction kept its
    // schedule: upto 8, tail b8..b11
    val marker = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$state/_compacted_upto"))).trim
    assert(marker === "8", s"marker must read 8, got $marker")
  }

  test("compaction bounds the state listing and preserves every " +
      "match (12 micro-batches, compactEvery = 4)") {
    // one identical doc per wave: batch i matches every earlier batch
    val waves = (0L until 12L).map(i => Seq(i -> doc(1)))
    val state = tmpDir("ndst_state_cpt")
    val (out, _) = drain(waves, state, compactEvery = 4)
    val got = StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet
    val want = (for (a <- 0L until 12L; b <- 0L until a)
      yield (a, b)).toSet
    assert(got === want,
      "compaction must not change a single emitted match")
    // schedule: upto 0→4 at batch 4, 4→8 at batch 8; batches 8..11
    // remain as the per-batch tail
    val marker = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$state/_compacted_upto"))).trim
    assert(marker === "8", s"marker must read 8, got $marker")
    def subdirs(p: String): Set[String] =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs(s"$state/sets") === Set("b8", "b9", "b10", "b11"),
      "folded per-batch set dirs must be dropped")
    assert(subdirs(s"$state/bands") === Set("b8", "b9", "b10", "b11"),
      "folded per-batch band dirs must be dropped")
    assert(subdirs(state).filter(_.startsWith("compacted_g")) ===
      Set("compacted_g8"), "exactly one live generation")
    // the generation holds the folded batches' full index
    assert(spark.read.parquet(s"$state/compacted_g8/sets")
      .select("doc_id").as[Long].collect().toSet ===
      (0L until 8L).toSet)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$state/sets").count() === 4L)
  }

  test("a probing micro-batch runs 12 Spark jobs and a compacting one " +
      "14 (6 one-file batches, compactEvery = 4)") {
    val jobsByBatch = mutable.Map.empty[Long, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach { b =>
            jobsByBatch.synchronized {
              jobsByBatch(b.toLong) = jobsByBatch.getOrElse(b.toLong, 0) + 1
            }
          }
    }
    // one identical doc per wave: every probe finds candidates, so no
    // batch takes an empty-input shortcut
    val waves = (0L until 6L).map(i => Seq(i -> doc(1)))
    spark.sparkContext.addSparkListener(listener)
    try {
      drain(waves, tmpDir("ndst_state_jobs"), compactEvery = 4)
      ListenerBusShim.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val jobs = jobsByBatch.synchronized(jobsByBatch.toMap)
    // batch 0 probes nothing; batch 4 folds batches 0..3 into
    // compacted_g4; batches 1, 2, 3 and 5 only probe
    val probing = Seq(1L, 2L, 3L, 5L).map(b => b -> jobs.getOrElse(b, 0))
    assert(probing.forall(_._2 == 12),
      "a probing batch must run 12 jobs (20 before state reads carried " +
        "their schema and the probe dropped its redundant stages): " +
        s"$probing (all batches: $jobs)")
    assert(jobs.getOrElse(4L, 0) === 14,
      s"the compacting batch must run 14 jobs (24 before): $jobs")
    assert(jobs.getOrElse(0L, 0) === 3,
      "the first batch, with no index to probe, must run 3 jobs " +
        s"(5 before): $jobs")
  }
}
