package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.io.{Discovery, Tables}

/** A call's result, collected on the driver: forcing it is part of the
  * timed call, checking it is not.
  */
final case class Out(schema: StructType, rows: Seq[Row])

object Out {
  def of(df: DataFrame): Out = Out(df.schema, df.collect().toSeq)
}

/** One timed call into a module's public surface.
  *
  * @param key    stable name; the output check is keyed on it
  * @param module the `graft.*` module the call is billed to
  * @param check  how its first output is checked (see `check.py`):
  *               `oracle:<name>`, `literal` or `fingerprint`
  */
final case class Call(key: String, module: String, check: String,
    run: SparkSession => Out, stream: Boolean = false)

/** Inputs of one run, as staged by the generator (`gen.py`). */
final case class Inputs(sf: String, gen: String, seed: Long,
    split: String, mergeMod: Int, work: String) {
  def staged(ext: String): String = s"$gen/stage/events_slice.$ext"
  def sliceDir: String = s"$gen/slice"
}

object Workloads {

  val Names = Seq("procedures", "stream_state")

  /** The calls of one pass, in run order. Groups (a profile and the
    * score of that profile) stay together; the group order is shuffled
    * by the seed. The stream of `stream_state` always runs first.
    */
  def pass(workload: String, in: Inputs): Seq[Call] = workload match {
    case "procedures" =>
      new scala.util.Random(in.seed).shuffle(procedures(in)).flatten
    case "stream_state" =>
      nearDupStream(in) +:
        new scala.util.Random(in.seed).shuffle(rounds(in)).flatten
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; known: ${Names.mkString(", ")}")
  }

  /** A registered lane run as one call: the lane is a thin wrapper over
    * its module's public function, and its DuckDB oracle is the gate's.
    */
  private def lane(name: String, module: String, dir: String): Call =
    Call(name, module, s"oracle:$name",
      s => Out.of(SparkEntry.queries(name)(s, dir)))

  private def fileDefinition(ext: String, in: Inputs): Call =
    Call(s"io.file_definition.$ext", "io", "literal", s => {
      val fd = Discovery.fileDefinition(s, in.staged(ext))
      import s.implicits._
      Out.of(fd.columns.zipWithIndex.map { case (c, i) =>
        (fd.fileName, fd.fileType, fd.fileSize, i + 1, c.columnName,
          c.`type`)
      }.toDF("file_name", "file_type", "file_size", "ordinal",
        "column_name", "data_type"))
    })

  /** Profile a table, then score the profile: two calls that share the
    * profile rows through a driver-side slot.
    */
  private def profileThenScore(table: String, in: Inputs): Seq[Call] = {
    var profile: Option[Out] = None
    Seq(
      Call(s"profile.profile.$table", "profile", "fingerprint", s => {
        val out = Out.of(graft.profile.Profiler.profile(
          Tables.load(s, in.sf, table, parallelize = true),
          now = lit(graft.profile.ProfileQueries.FixedNow)
            .cast("timestamp")))
        profile = Some(out)
        out
      }),
      Call(s"dq.table_score.$table", "dq", "fingerprint", s => {
        val p = profile.getOrElse(throw new IllegalStateException(
          s"no profile of $table to score"))
        Out.of(graft.dq.TableDq.score(s.createDataFrame(
          java.util.Arrays.asList(p.rows: _*), p.schema)))
      }))
  }

  private val scdProj = Seq(col("event_id"),
    unix_micros(col("ts")).as("ts_us"), col("user_id"), col("event_type"),
    col("value"), col("props"))

  /** Target = events before the seeded split; the change batch = a
    * seeded arithmetic subset of the events at or after it. The oracle
    * (`check.py`) applies the same predicates in DuckDB.
    */
  private def mergeSides(s: SparkSession, in: Inputs): (DataFrame, DataFrame) = {
    val events = Tables.load(s, in.sf, "events")
    val split = lit(in.split).cast("timestamp")
    (events.filter(col("ts") < split),
      events.filter(col("ts") >= split &&
        (col("event_id") * 7919L + in.seed) % in.mergeMod < 3L))
  }

  private val Script =
    """-- latest order per customer, joined to its customer, aggregated
      |CREATE OR REPLACE TEMPORARY VIEW pb_latest AS
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM pb_orders) WHERE rn = 1;
      |CREATE OR REPLACE TEMPORARY VIEW pb_joined AS
      |  SELECT c.c_nationkey, l.o_totalprice FROM pb_latest l
      |  JOIN pb_customer c ON l.o_custkey = c.c_custkey;
      |CREATE OR REPLACE TEMPORARY VIEW pb_agg AS
      |  SELECT c_nationkey, count(*) AS n_customers,
      |    sum(o_totalprice) AS latest_total
      |  FROM pb_joined GROUP BY c_nationkey;
      |CACHE TABLE pb_agg""".stripMargin

  private def procedures(in: Inputs): Seq[Seq[Call]] =
    Seq("csv", "json", "parquet", "xlsx").map(e =>
      Seq(fileDefinition(e, in))) ++
    Seq("lineitem", "orders", "events").map(profileThenScore(_, in)) ++
    Seq(
      // the full file-DQ report over the staged events slice
      Seq(Call("dq.file_report", "dq", "oracle:dq_file_events",
        s => Out.of(SparkEntry.queries("dq_file_events")(s, in.sliceDir)))),
      Seq(lane("pii_mask_customer", "security", in.sf)),
      Seq(lane("glossary_crud_cycle", "catalog", in.sf)),
      Seq(Call("orch.ingestion", "orch",
        "oracle:orch_ingestion_agg_events", s => {
          val res = graft.orch.Ingestion.run(s,
            "Build an aggregate summary of events by type",
            in.staged("csv"), graft.interp.TemplateGenerator)
          require(res.status == "SUCCESS",
            s"ingestion failed: ${res.error}")
          // the generated SQL names the discovered file's table
          Discovery.load(s, in.staged("csv"))._1
            .createOrReplaceTempView("events_slice")
          Out.of(s.sql(res.sqlCode.get.stripSuffix(";")))
        })),
      Seq(Call("interp.generate_code", "interp", "fingerprint", s => {
        val meta: graft.interp.Objective.Metadata = Map(
          "events_slice.parquet" -> Seq("event_id" -> "NUMBER",
            "event_type" -> "VARCHAR", "value" -> "FLOAT"))
        val code = graft.interp.Objective.generateCode(
          "Clean the events data: remove duplicate rows and null values",
          meta, graft.interp.TemplateGenerator)
        import s.implicits._
        Out.of(Seq((code.taskType, code.sqlCode, code.sparkCode))
          .toDF("task_type", "sql_code", "spark_code"))
      })),
      Seq(Call("exec.script", "exec", "oracle:exec.script", s => {
        Tables.load(s, in.sf, "orders").createOrReplaceTempView("pb_orders")
        Tables.load(s, in.sf, "customer")
          .createOrReplaceTempView("pb_customer")
        val report = graft.exec.ScriptEngine.run(s, Script)
        require(report.failedCount == 0,
          s"script failed: ${report.details.flatMap(_.error).mkString}")
        try Out.of(s.table("pb_agg"))
        finally s.sql("UNCACHE TABLE IF EXISTS pb_agg"): Unit
      })),
      Seq(Call("pipeline.scd1_merge", "pipeline", "oracle:merge", s => {
        val (target, changes) = mergeSides(s, in)
        Out.of(graft.pipeline.Scd1.merge(target, changes, Seq("user_id"),
          "ts", tieBreakers = Seq("event_id")).select(scdProj: _*))
      })),
      Seq(Call("pipeline.pruned_merge", "pipeline", "oracle:merge", s => {
        val (target, changes) = mergeSides(s, in)
        val tgt = s"${in.work}/pruned_target"
        try {
          graft.pipeline.PrunedMerge.stage(target, tgt, Seq("user_id"),
            nParts = 8)
          graft.pipeline.PrunedMerge.mergeInto(s, tgt, changes,
            Seq("user_id"), "ts", tieBreakers = Seq("event_id"),
            nParts = 8)
          Out.of(graft.pipeline.PrunedMerge.readTable(s, tgt)
            .select(scdProj: _*))
        } finally Files.delete(new File(tgt))
      })))

  /** The maintained near-dup stream over the seeded micro-batch files. */
  private def nearDupStream(in: Inputs): Call =
    Call("streaming.near_dup", "streaming", "oracle:near_dup_batches",
      s => Streams.nearDup(s, in), stream = true)

  /** The rest of `stream_state`: the stream's batch twins over the union
    * of its batches (the documents table) — the composed curation
    * pipeline, MinHash near-dup and LSH kNN — and the graph components
    * fixpoint, which runs small jobs round by round, as the stream does
    * batch by batch.
    */
  private def rounds(in: Inputs): Seq[Seq[Call]] = Seq(
    lane("corpus_curate_e2e_documents", "text", in.sf),
    lane("dedup_minhash_documents", "dedup", in.sf),
    lane("sim_topk_lsh", "sim", in.sf),
    lane("graph_components_parts", "graph", in.sf)).map(Seq(_))
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** (files, bytes) under a directory tree. */
  def usage(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(usage)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length) else (0L, 0L)
}
