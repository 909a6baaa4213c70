package graft.perfbench

import graft.SparkEntry
import graft.expr.CsvwFunctions
import graft.link.{ConnectedComponents, EntityLink}
import graft.mapper.TripleMapper
import graft.materialize.GraphWriter
import graft.streaming.TranscriptStream
import graft.validate.{ValidateGate, Validations}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Where a KG job reads its inputs: the corpus, the conversation
  * dimension and the entity dictionary, all parquet.
  */
final case class Inputs(corpus: String, conversations: String, dictionary: String)

/** What one KG job produced: validation outcomes and distinct triples. */
final case class JobResult(seconds: Double, triples: Long, pkDuplicates: Long,
                           fkViolations: Long, inconsistentTurns: Long,
                           cellErrors: Long, graph: String)

/** The full batch KG job, called only through the library's public API:
  * mapper → cell-error gate → PK/FK/invariant checks → entity linking and
  * connected components → canonical rewrite → materialized graph.
  */
object KgJob {
  private def table = SparkEntry.transcriptTable

  /** The mapper's inputs per CSVW column, as `TranscriptStream.triples`
    * binds them.
    */
  private def cellInputs: Map[String, Column] = Map(
    "conv_id" -> col("conv_id"), "turn_idx" -> col("turn_idx"),
    "role" -> col("role"), "text" -> col("text"), "tool" -> col("tool"),
    "ts" -> date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))

  private def skolem: Column = concat(col("conv_id"), lit("-"), col("turn_idx"))

  /** Transcripts keyed by the subject IRI the mapper gives each turn. */
  private def keyed(tr: DataFrame): DataFrame =
    tr.withColumn("subj_key",
      concat(lit("urn:conv:"), col("conv_id"), lit("/turn/"), col("turn_idx").cast("string")))

  private def manifestPath(out: String): String = {
    val p = java.nio.file.Paths.get(out)
    p.getParent.resolve(s"_MANIFEST_${p.getFileName}.json").toString
  }

  /** Distinct triples written, read back from the stage manifest. */
  private def manifestRows(out: String): Long = {
    val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(manifestPath(out))))
    """"rows":(\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
  }

  /** The untraced job: one chained pipeline, forced only where the library
    * itself runs actions.
    */
  def run(spark: SparkSession, in: Inputs, out: String): JobResult = {
    val t0 = System.nanoTime()
    val tr = spark.read.parquet(in.corpus)
    val triples = TranscriptStream.triples(tr, table)
    val gate = new ValidateGate(spark)
    gate.countCellErrors(TripleMapper.cellErrors(tr, table, cellInputs, skolem))
    val pk = Validations.pkDuplicates(tr, Seq("conv_id", "turn_idx")).count()
    val fk = Validations.fkViolations(tr, Seq("conv_id"),
      spark.read.parquet(in.conversations), Seq("conv_id")).count()
    val inv = Validations.turnTextConsistency(tr).count()
    val mentions = EntityLink.mentions(keyed(tr), spark.read.parquet(in.dictionary), "subj_key", "text")
    val edges = EntityLink.starEdges(mentions, "subj_key")
    val components = ConnectedComponents.run(spark, edges)
    val canonical = EntityLink.canonicalizeSubjects(triples, components)
    GraphWriter.writeTriples(canonical, out, metrics = gate.manifestMetrics)
    val secs = (System.nanoTime() - t0) / 1e9
    JobResult(secs, manifestRows(out), pk, fk, inv, gate.errors, out)
  }

  /** The traced job: the same calls, each inside a span, with every layer's
    * output forced at its boundary by a noop write (the layer's time) and
    * handed to the next layer as parquet under `handoffDir` (trace overhead).
    */
  def traced(spark: SparkSession, in: Inputs, out: String, handoffDir: String, t: Tracer): JobResult = {
    val t0 = System.nanoTime()
    /** Force `df` inside span `module.op` with a noop write; its row count. */
    def forced(module: String, op: String, df: DataFrame): Long = {
      val o = Observation(s"$module.$op")
      t.span(module, op) { df.observe(o, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save() }
      o.get("n").asInstanceOf[Long]
    }
    def handoff(df: DataFrame, name: String): DataFrame = t.span("trace", s"handoff_$name") {
      df.write.mode("overwrite").parquet(s"$handoffDir/$name")
      spark.read.parquet(s"$handoffDir/$name")
    }

    val tr = spark.read.parquet(in.corpus)
    val rows = forced("sources", "scan", tr)
    // `csvwCell` over every mapped column, as the mapper's first stage runs it
    forced("expr", "cells", tr.select(table.columns.map(c => CsvwFunctions.csvwCell(
      if (c.virtual) lit("") else cellInputs.getOrElse(c.name, col(c.name)).cast("string"), c).as(c.name)): _*))
    t.count("expr", "cells_evaluated", rows * table.columns.size)

    val triples = TranscriptStream.triples(tr, table)
    t.count("mapper", "triples_out", forced("mapper", "triples", triples))
    val triplesIn = handoff(triples, "triples")
    val gate = new ValidateGate(spark)
    t.span("mapper", "cell_errors") {
      gate.countCellErrors(TripleMapper.cellErrors(tr, table, cellInputs, skolem))
    }

    val pk = t.span("validate", "pk") { Validations.pkDuplicates(tr, Seq("conv_id", "turn_idx")).count() }
    val fk = t.span("validate", "fk") {
      Validations.fkViolations(tr, Seq("conv_id"), spark.read.parquet(in.conversations), Seq("conv_id")).count()
    }
    val inv = t.span("validate", "invariant") { Validations.turnTextConsistency(tr).count() }
    t.count("validate", "violations", pk + fk + inv)

    val mentions = EntityLink.mentions(keyed(tr), spark.read.parquet(in.dictionary), "subj_key", "text")
    t.count("link", "mentions_out", forced("link", "mentions", mentions))
    val edges = EntityLink.starEdges(handoff(mentions, "mentions"), "subj_key")
    t.count("link", "edges_out", forced("link", "star_edges", edges))
    val edgesIn = handoff(edges, "edges")
    val components = t.span("link", "cc") { ConnectedComponents.run(spark, edgesIn) }
    val componentsIn = handoff(components, "components")
    t.span("trace", "component_counts") {
      val largest = componentsIn.groupBy("component").count().agg(max("count")).head()
      t.count("link", "largest_component", if (largest.isNullAt(0)) 0 else largest.getLong(0))
      t.count("link", "subjects_rewritten", componentsIn.filter(col("id") =!= col("component")).count())
    }
    val canonical = EntityLink.canonicalizeSubjects(triplesIn, componentsIn)
    forced("link", "canonicalize", canonical)
    val canonicalIn = handoff(canonical, "canonical")

    t.span("materialize", "write") {
      GraphWriter.writeTriples(canonicalIn, out, metrics = gate.manifestMetrics)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    JobResult(secs, manifestRows(out), pk, fk, inv, gate.errors, out)
  }
}
