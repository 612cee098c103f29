package perfbench

import java.time.Instant
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.dedup.Dedup
import graft.stream.CorpusStream

/** Open-loop streaming admission: one generator thread offers stamped
  * documents at a fixed rate into a MemoryStream feeding
  * CorpusStream.admissionSink with its defaults. A document's latency runs
  * from the moment it was due to the commit of the micro-batch holding it. */
final class StreamAdmission(a: Args, spark: SparkSession) extends Workload {
  import spark.implicits._
  private val rate = a.dbl("rate_docs_per_s")
  private val root = s"${a.work}/stream"
  private val (indexPath, corpusPath, ckpt) = (s"$root/index", s"$root/corpus", s"$root/checkpoint")
  // the sink's defaults, which the replay check mirrors
  private val (shingleN, bands, rowsPerBand, minEstJaccard) = (3, 8, 4, 0.5)
  private val closedLoopDocs = a.params.get("closed_loop_docs").fold(0)(_.toInt)
  private var docs: Array[Doc] = _
  private var next = 0
  private var mem: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var backlog = 0

  /** One addData call: the documents created in one tick. */
  private final case class Offer(offset: Long, ids: Array[Long], dueMs: Array[Double], measured: Boolean)
  private val offers = ArrayBuffer.empty[Offer]

  def generate(): Unit = {
    val n = a.int("warmup_batches") * a.int("warmup_batch_docs") + (rate * (2 * a.seconds + 5) * 1.2).toInt +
      closedLoopDocs * 50
    docs = Corpus.generate(new SplittableRandom(a.seed), n, a.dbl("exact_share"), a.dbl("near_share"))
  }

  def setup(t: Tracer): Unit = {
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    mem = MemoryStream[(Long, String)]
    query = CorpusStream.admissionSink(mem.toDF().toDF("doc_id", "text"), indexPath, corpusPath, ckpt)
    (0 until a.int("warmup_batches")).foreach(_ => closedLoopBatch(a.int("warmup_batch_docs"), measured = false))
  }

  private def add(n: Int, dueMs: Int => Double, measured: Boolean): Long = {
    val batch = docs.slice(next, next + n)
    val off = mem.addData(batch.map(d => (d.id, d.text)).toSeq).json().toLong
    offers += Offer(off, batch.map(_.id), Array.tabulate(batch.length)(dueMs), measured)
    next += batch.length
    off
  }

  /** Offers `n` documents at once, in chunks of the size the open loop
    * hands over per tick, and waits for their commit. */
  private def closedLoopBatch(n: Int, measured: Boolean): Unit = {
    val now = Clock.nowMs
    val chunk = math.max(1, (rate * a.dbl("tick_ms") / 1000).toInt)
    val off = (0 until n by chunk).map(j => add(math.min(chunk, n - j), _ => now, measured)).last
    val deadline = now + a.dbl("drain_s") * 1000
    while (committedOffset < off && Clock.nowMs < deadline) Thread.sleep(5)
  }

  /** Offers documents for `seconds`, then waits for the stream to commit
    * them. Open loop: every `tick_ms` the generator hands over the chunk
    * of documents created in that tick (rate × tick), whatever the stream
    * does; a chunk is due at its tick, and its documents are stamped with
    * that time. Closed loop (`closed_loop_docs` > 0, used only to measure
    * the saturation rate the fixed rate is derived from): the next batch
    * is offered when the previous one is committed. Returns the window's
    * start, end, worst generator lag (hand-over time minus due time) and
    * first offer. */
  private def offer(seconds: Double): (Double, Double, Double, Int) = {
    val t0 = Clock.nowMs
    val first = offers.size
    val tick = a.dbl("tick_ms")
    val createdBy = (i: Int) => math.floor(i * tick * rate / 1000).toInt
    var (i, lag) = (0, 0.0)
    if (closedLoopDocs > 0) while (Clock.nowMs - t0 < seconds * 1000) closedLoopBatch(closedLoopDocs, measured = true)
    else while (Clock.nowMs - t0 < seconds * 1000 && next < docs.length) {
      val due = t0 + (i + 1) * tick
      val wait = due - Clock.nowMs
      if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
      else {
        add(math.min(createdBy(i + 1) - createdBy(i), docs.length - next), _ => due, measured = true)
        lag = math.max(lag, Clock.nowMs - due)
        i += 1
      }
    }
    val end = Clock.nowMs
    val last = offers.last.offset
    val deadline = end + a.dbl("drain_s") * 1000
    while (committedOffset < last && Clock.nowMs < deadline) Thread.sleep(20)
    (t0, end, lag, first)
  }

  private def progress: Seq[StreamingQueryProgress] =
    query.recentProgress.toSeq.filter(_.numInputRows > 0)
  private def committedOffset: Long =
    progress.map(p => p.sources.head.endOffset.toLong).foldLeft(-1L)(math.max)
  private def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def commitMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.get("triggerExecution").doubleValue

  /** Offset → (batch id, commit time) of the micro-batch that held it. */
  private def batchOf(ps: Seq[StreamingQueryProgress]): Map[Long, (Long, Double)] =
    ps.flatMap(p => offsets(p).map(o => o -> (p.batchId, commitMs(p)))).toMap

  /** The MemoryStream offsets (one per hand-over) micro-batch `p` read. */
  private def offsets(p: StreamingQueryProgress): Seq[Long] = {
    val start = Option(p.sources.head.startOffset).filter(_ != "null").fold(-1L)(_.toLong)
    start + 1 to p.sources.head.endOffset.toLong
  }

  def measure(seconds: Double, t: Tracer): Window = {
    val (t0, end, lag, first) = offer(seconds)
    val ps = progress
    val batches = batchOf(ps)
    ps.foreach(p => System.err.println(f"[perfbench] micro-batch ${p.batchId}: ${rows(p)} documents, " +
      f"started ${startMs(p) - t0}%.0f ms into the window, trigger ${p.durationMs.get("triggerExecution")} ms ${p.durationMs}"))
    val mine = offers.drop(first)
    val lat = mine.flatMap(o => batches.get(o.offset).fold(Array.empty[Double])(b => o.dueMs.map(b._2 - _)))
    backlog = mine.filterNot(o => batches.get(o.offset).exists(_._2 <= end)).map(_.ids.length).sum
    Window(lat.toArray, t0, end, lag)
  }

  /** Every admission decision replayed in batch: the offered documents'
    * band rows come from one Dedup.bandRows job, then each micro-batch
    * (in batch-id order) admits the documents that no document admitted by
    * an earlier batch collides with at the sink's MinHash threshold. The
    * corpus must hold exactly the replayed admissions, each under its
    * micro-batch id. Also yields the measured documents' admit ratio and
    * the share of band-colliding documents the threshold rejected. */
  private lazy val replay: (Checked, Double, Double) = {
    query.stop()
    val batches = batchOf(progress)
    val docBatch = offers.flatMap(o => o.ids.map(_ -> batches.get(o.offset).map(_._1))).toMap
    val sig = Dedup.bandRows(docs.take(next).map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text"),
        shingleN, bands, rowsPerBand)
      .select("doc_id", "band", "bucket", "signature").as[(Long, Int, Int, Seq[Int])].collect()
    val byDoc = sig.groupBy(_._1)
    val index = mutable.HashMap.empty[(Int, Int), ArrayBuffer[Seq[Int]]]
    val expected = mutable.HashMap.empty[Long, Long]
    val candidate = mutable.HashSet.empty[Long]
    val agree = math.ceil(minEstJaccard * bands * rowsPerBand).toInt
    docBatch.toSeq.collect { case (id, Some(b)) => (b, id) }.groupBy(_._1).toSeq.sortBy(_._1).foreach {
      case (b, members) =>
        val admitted = members.map(_._2).filterNot { id =>
          val prior = byDoc.getOrElse(id, Array.empty).flatMap { case (_, band, bucket, s) =>
            index.get((band, bucket)).fold(Seq.empty[Int])(_.map(o => s.zip(o).count(p => p._1 == p._2)).toSeq)
          }
          if (prior.nonEmpty) candidate += id
          prior.exists(_ >= agree)
        }
        admitted.foreach { id =>
          expected(id) = b
          byDoc.getOrElse(id, Array.empty).foreach { case (_, band, bucket, s) =>
            index.getOrElseUpdate((band, bucket), ArrayBuffer.empty) += s
          }
        }
    }
    val got = spark.read.parquet(corpusPath).select("doc_id", "_batch_id").as[(Long, Long)].collect().toMap
    val measured = offers.filter(_.measured).flatMap(_.ids)
    val wrong = measured.count(id => docBatch(id).isEmpty || got.get(id) != expected.get(id))
    val cands = measured.filter(candidate)
    (Checked(measured.size, wrong, Seq(
      s"replayed ${docBatch.size} admission decisions over ${batches.values.map(_._1).toSet.size} micro-batches: " +
        s"${measured.size - wrong} of ${measured.size} measured documents match the corpus")),
      measured.count(expected.contains).toDouble / measured.size,
      cands.count(id => !expected.contains(id)).toDouble / math.max(cands.size, 1))
  }
  def check(): Checked = replay._1

  def storedPerInputByte: Double =
    (Disk.bytes(indexPath) + Disk.bytes(corpusPath) + Disk.bytes(ckpt)).toDouble /
      docs.take(next).map(_.text.length.toLong).sum

  def report(w: Window): Seq[String] = {
    val (tail, pct, n) = Stats.tail(w.latMs)
    val mode = if (closedLoopDocs > 0) s"closed loop of $closedLoopDocs-document batches" else f"$rate%.0f docs/s offered"
    Seq(f"event_latency_ms_p50 ${Stats.median(w.latMs)}%.1f ms, event_latency_ms_tail $tail%.1f ms " +
        f"(p$pct%.2f of $n documents), $mode",
      f"committed ${n / ((w.endMs - w.startMs) / 1000)}%.1f docs/s over the window",
      s"backlog_docs_end $backlog docs",
      f"stored_bytes_per_input_byte $storedPerInputByte%.4f ratio")
  }

  /** Documents in micro-batch `p`, counted from its offsets (the
    * progress's numInputRows counts a row once per read of the batch). */
  private def rows(p: StreamingQueryProgress): Int = {
    val read = offsets(p).toSet
    offers.iterator.filter(o => read(o.offset)).map(_.ids.length).sum
  }

  /** Micro-batches come from the StreamingQueryListener, which stops
    * listening when the traced window has drained; each becomes an
    * operation span, and its Spark jobs are those tagged with its batch id. */
  def perLayer(w: Window, t: Tracer, setup: Tracer): Map[String, (Double, String)] = {
    // the traced window's micro-batches, including those that commit while it drains
    val ps = t.streams.progress.filter(p => p.numInputRows > 0 && commitMs(p) > w.startMs)
    ps.foreach(p => t.record("stream.batch", p.batchId, startMs(p), commitMs(p)))
    def dur(k: String) = Stats.median(ps.map(_.durationMs.get(k).doubleValue / 1000.0).toSeq)
    val ids = ps.map(_.batchId).toSet
    val jobs = t.engine.jobs.filter(j => ids(j.batch)).groupBy(_.batch).values.map(_.size.toDouble).toSeq
    Map(
      "stream.trigger_s" -> (dur("triggerExecution"), "s"),
      "stream.addbatch_s" -> (dur("addBatch"), "s"),
      "stream.rows_per_batch" -> (Stats.mean(ps.map(rows(_).toDouble).toSeq), "count"),
      "stream.jobs_per_batch" -> (Stats.median(jobs), "count"),
      "stream.admit_ratio" -> (replay._2, "ratio"),
      "dedup.verified_per_candidate" -> (replay._3, "ratio"),
      "sources.index_files" -> (Disk.count(indexPath).toDouble, "count"),
      "sources.index_bytes" -> (Disk.bytes(indexPath).toDouble, "bytes"),
      "sources.corpus_bytes" -> (Disk.bytes(corpusPath).toDouble, "bytes"),
      "sources.write_s" -> (t.ops.map(o => t.writeMsWithin(o.startMs, o.endMs)).sum / 1000.0 / math.max(ps.size, 1), "s"))
  }
}
