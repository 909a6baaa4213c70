package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs, writes a
  * properties file with the workload's parameters and starts this main with
  * `<config> <work dir>`; results go to `<work dir>/result.json`, which
  * run.py checks against DuckDB and turns into metrics.
  *
  * Every mode first runs `warm_jobs` KG jobs over the generated inputs to
  * warm the JVM up. Then `run` (tracing off) times KG jobs and the ingest, `trace`
  * runs one untraced and one traced KG job and the ingest, and `kg1core`
  * times one KG job (the single-slot baseline, at `local[1]`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.perfbench.Main <config.properties> <work dir>")
      sys.exit(2)
    }
    val cfg = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try cfg.load(in) finally in.close()
    def str(k: String): String = Option(cfg.getProperty(k)).getOrElse(sys.error(s"config lacks $k"))
    def num(k: String): Double = str(k).toDouble
    def int(k: String): Int = str(k).toInt
    val work = args(1)
    val mode = str("mode")

    val spark = SparkSession.builder()
      .master(str("master"))
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", int("shuffle_partitions"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.memory.fraction", num("memory_fraction"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()

    val out = mutable.LinkedHashMap[String, Any]("ready_ms" -> readyMs, "mode" -> mode,
      "ingest_dir" -> s"$work/ingest")
    val gen = str("gen_dir")
    val inputs = Inputs(s"$gen/corpus", s"$gen/conversations", s"$gen/dictionary")

    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    def jobJson(r: JobResult): Map[String, Any] = Map(
      "seconds" -> r.seconds, "triples" -> r.triples, "pk" -> r.pkDuplicates,
      "fk" -> r.fkViolations, "invariant" -> r.inconsistentTurns,
      "cell_errors" -> r.cellErrors, "graph" -> r.graph)

    def ingestJson(r: IngestResult): Map[String, Any] = Map(
      "lags_s" -> r.lagsS, "gen_late_s" -> r.genLateS,
      "committed" -> r.dropsCommitted, "attempted" -> r.dropsAttempted,
      "batches" -> r.batches.map(b => Map("commit_ms" -> b.commitMs, "duration_ms" -> b.durationMs,
        "input_rows" -> b.inputRows, "output_rows" -> b.outputRows, "state_rows" -> b.stateRows,
        "state_bytes" -> b.stateBytes, "late_dropped" -> b.lateDropped)))

    val ttl = java.time.Duration.ofSeconds(math.round(num("ttl_s")))
    def ingest(): Map[String, Any] = ingestJson(Ingest.run(spark, s"$gen/drops", int("drops"), int("prime_drops"),
      s"$work/ingest", num("interval_s"), num("ingest_warm_s"), ttl, num("grace_s")))
    val (warmS, _) = timed((1 to int("warm_jobs")).foreach(i => KgJob.run(spark, inputs, s"$work/warm$i/graph")))
    out("warmup_s") = warmS
    // each timed phase starts from a collected heap, not from the garbage
    // of the phase before it
    System.gc()
    mode match {
      case "kg1core" =>
        out("job") = jobJson(KgJob.run(spark, inputs, s"$work/graph"))

      case "run" =>
        // at least `min_jobs` KG jobs, and more while `batch_share` of the
        // run's seconds has not passed
        val budget = num("seconds") * num("batch_share")
        val jobs = mutable.ArrayBuffer.empty[JobResult]
        val t0 = System.nanoTime()
        while (jobs.size < int("min_jobs") || (System.nanoTime() - t0) / 1e9 < budget)
          jobs += KgJob.run(spark, inputs, s"$work/graph${jobs.size}/graph")
        out("jobs") = jobs.map(jobJson)
        System.gc()
        out("ingest") = ingest()

      case "trace" =>
        out("job") = jobJson(KgJob.run(spark, inputs, s"$work/untraced/graph"))
        val t = new Tracer(spark, s"seed${str("seed")}")
        val traced = t.span("job", "kg") {
          KgJob.traced(spark, inputs, s"$work/traced/graph", s"$work/handoff", t)
        }
        t.stop()
        out("traced_job") = jobJson(traced)
        out("spans") = t.spans.map(s => Map("name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
          "start_ns" -> s.start, "end_ns" -> s.end, "seconds" -> s.seconds))
        out("counts") = t.counts.toMap
        out("modules") = t.modules.map { case (m, c) => m -> Map(
          "tasks" -> c.tasks, "task_busy_s" -> c.busyMs / 1e3, "shuffle_read_bytes" -> c.shuffleRead,
          "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
          "records_in" -> c.recordsIn, "records_out" -> c.recordsOut, "skew" -> c.skew) }.toMap
        out("lineage_s") = t.execSeconds("GraphWriter$.writeLineage")
        out("cc_rounds") = t.execCount("link.cc", "count at")
        System.gc()
        out("ingest") = ingest()

      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
    out("vm_hwm_kb") = vmHwmKb()
    spark.stop()
    Files.writeString(Paths.get(work, "result.json"), Json.render(out.toMap))
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  private def vmHwmKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => render(o.toString)
  }
}
