package graft.perfbench

import graft.SparkEntry
import graft.streaming.TranscriptStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable

/** One committed micro-batch, as its progress event reports it. */
final case class Batch(commitMs: Long, durationMs: Long, inputRows: Long, outputRows: Long,
                       stateRows: Long, stateBytes: Long, lateDropped: Long)

final case class IngestResult(lagsS: Seq[Double], genLateS: Seq[Double], batches: Seq[Batch],
                              dropsCommitted: Int, dropsAttempted: Int)

/** Open-loop ingest: a generator thread moves pre-generated parquet drops
  * into the watched directory on a fixed schedule, whatever the stream is
  * doing; the stream maps and TTL-dedups them into a parquet sink. A drop's
  * lag runs from its due time to the commit of the micro-batch that
  * consumed it, matched by cumulative input rows.
  */
object Ingest {

  private def dropFile(dropsDir: String, k: Int): Path = {
    val d = Paths.get(dropsDir, s"drop=$k")
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
        case Seq(f) => f
        case fs => throw new IllegalStateException(s"drop $k has ${fs.size} parquet files")
      }
    } finally s.close()
  }

  private def rowCount(f: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** @param primeDrops drops placed before the query starts; its first
    *                 micro-batch takes them as one backlog
    * @param intervalS seconds between due times of the later drops
    * @param warmS    drops due in the first `warmS` seconds settle the
    *                 stream and give no lag sample
    * @param graceS   how long after the last due time a drop may still commit
    */
  def run(spark: SparkSession, dropsDir: String, drops: Int, primeDrops: Int, work: String,
          intervalS: Double, warmS: Double, ttl: java.time.Duration, graceS: Double): IngestResult = {
    val files = (0 until drops).map(dropFile(dropsDir, _))
    val dropRows = files.map(rowCount)
    val watch = Paths.get(work, "watch")
    Files.createDirectories(watch)
    val batches = mutable.ArrayBuffer.empty[Batch]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = p.batchDuration
        val st = p.stateOperators
        batches.synchronized {
          batches += Batch(start + dur, dur, p.numInputRows, p.sink.numOutputRows,
            st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
            st.map(_.numRowsDroppedByWatermark).sum)
        }
      }
    }
    spark.streams.addListener(listener)
    def committedRows: Long = batches.synchronized(batches.map(_.inputRows).sum)

    def place(k: Int): Unit = {
      val f = files(k)
      Files.setLastModifiedTime(f, FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(f, watch.resolve(s"drop-$k.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }

    // the backlog primes the query (plans, codegen, JIT, state store)
    // before the clock starts
    (0 until primeDrops).foreach(place)
    val trips = TranscriptStream.triples(TranscriptStream.readStream(spark, watch.toString),
      SparkEntry.transcriptTable, carryEventTime = true)
    val q = TranscriptStream.dedupedTriplesTtl(trips, ttl = ttl)
      .toDF("subj", "pred", "obj")
      .writeStream.format("parquet")
      .option("path", s"$work/out").option("checkpointLocation", s"$work/ckpt")
      .start()
    val dueMs = new Array[Long](dropRows.size)
    val genLate = mutable.ArrayBuffer.empty[Double]
    try {
      while (committedRows < dropRows.take(primeDrops).sum) {
        if (!q.isActive) throw q.exception.getOrElse(new IllegalStateException("stream stopped"))
        Thread.sleep(5)
      }
      val t0 = System.currentTimeMillis()
      val gen = new Thread(() => {
        for (k <- primeDrops until dropRows.size) {
          val due = t0 + math.round((k - primeDrops) * intervalS * 1000)
          dueMs(k) = due
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          place(k)
          genLate.synchronized(genLate += (System.currentTimeMillis() - due) / 1e3)
        }
      }, "drop-generator")
      gen.setDaemon(true)
      gen.start()
      val deadline = t0 + math.round(((dropRows.size - primeDrops) * intervalS + graceS) * 1000)
      while (committedRows < dropRows.sum && System.currentTimeMillis() < deadline) {
        if (!q.isActive) throw q.exception.getOrElse(new IllegalStateException("stream stopped"))
        Thread.sleep(5)
      }
      gen.join()
    } finally {
      q.stop()
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.streams.removeListener(listener)
    }

    val bs = batches.synchronized(batches.toList)
    val cumBatch = bs.scanLeft(0L)(_ + _.inputRows).tail.zip(bs)
    val cumDrop = dropRows.scanLeft(0L)(_ + _).tail
    val committed = (primeDrops until dropRows.size).flatMap { k =>
      cumBatch.find(_._1 >= cumDrop(k)).map { case (_, b) => k -> (b.commitMs - dueMs(k)) / 1e3 }
    }
    val sampled = committed.collect { case (k, lag) if (k - primeDrops) * intervalS >= warmS => lag }
    IngestResult(sampled, genLate.toList, bs, committed.size, dropRows.size - primeDrops)
  }
}
