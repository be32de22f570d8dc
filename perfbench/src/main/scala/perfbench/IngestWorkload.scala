package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{CurationPipeline, ExactlyOnceSink, KafkaEnvelope}

/** ExactlyOnceSink that puts a span around the calls CurationPipeline
  * makes into it. */
final class TimedSink(dir: String, appId: String, tracer: Tracer)
    extends ExactlyOnceSink(dir, appId) {
  override def process(df: DataFrame, batchId: Long, partitionBy: Seq[String],
      mergeSchema: Boolean): Unit =
    tracer.span("sink", "process")(super.process(df, batchId, partitionBy, mergeSchema))

  override def read(spark: SparkSession, versionAsOf: Option[Long],
      mergeSchema: Boolean): DataFrame =
    tracer.span("sink", "read")(super.read(spark, versionAsOf, mergeSchema))
}

/** The benchmark's record source: documents-payload envelope records.
  * A fresh record carries the text of a seeded pick from the documents
  * fixture plus a tag that no other record carries, so fresh texts are
  * unique; the fixture's short documents fail the curation gate. A fixed
  * share of records re-send a recent record's text exactly, within and
  * across micro-batches. */
final class DocSource(texts: IndexedSeq[String], seed: Long) {
  import DocSource._
  private val rng = new scala.util.Random(seed)
  private var nextId = 0L
  private val recent = scala.collection.mutable.ArrayBuffer[String]()
  private val offsets = Array.fill(Partitions)(0L)
  /** Distinct texts that pass the gate: what the sink must end up with. */
  var distinctPassing = 0L
  var offered = 0L
  var offeredFailing = 0L
  var offeredBytes = 0L

  /** A word made only of letters that no other record carries. */
  private def tag(i: Long): String = {
    val sb = new StringBuilder("u")
    var x = i
    do { sb += ('a' + (x % 26).toInt).toChar; x /= 26 } while (x > 0)
    sb.toString
  }

  private def text(): String =
    if (recent.nonEmpty && rng.nextDouble() < ResendShare) recent(rng.nextInt(recent.size))
    else {
      val t = s"${texts(rng.nextInt(texts.size))} ${tag(nextId)}"
      if (passesGate(t)) distinctPassing += 1
      recent += t
      if (recent.size > RecentWindow) recent.remove(0)
      t
    }

  /** `n` envelope JSON lines whose Kafka timestamp is `dueMicros`. */
  def lines(n: Int, dueMicros: Long): Seq[String] = (0 until n).map { _ =>
    val id = nextId
    val t = text()
    if (!passesGate(t)) offeredFailing += 1
    nextId += 1
    val p = (id % Partitions).toInt
    val off = offsets(p)
    offsets(p) += 1
    val ts = java.time.Instant.ofEpochSecond(0L, dueMicros * 1000L).toString
    val value = s"""{"doc_id":$id,"text":${Json.quote(t)},"lang":"en","source":"src${id % 20}"}"""
    val line = s"""{"topic":"documents","partition":$p,"offset":$off,"timestamp":"$ts",""" +
      s""""key":"$id","value":${Json.quote(value)}}"""
    offered += 1
    offeredBytes += line.length + 1
    line
  }
}

object DocSource {
  val Partitions = 4
  /** Share of records that re-send a text from the last `RecentWindow`
    * records (an unverified choice, see README.md). */
  val ResendShare = 0.15
  val RecentWindow = 400

  /** The curation gate's rule, restated as the check's oracle: at least
    * `MinChars` characters, of which ASCII letters and spaces make up at
    * least half. */
  def passesGate(t: String): Boolean =
    t.length >= CurationPipeline.MinChars &&
      2 * t.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == ' ') >= t.length

  /** The documents fixture's texts, in doc_id order. */
  def fixtureTexts(spark: SparkSession, fixtures: String): IndexedSeq[String] =
    graft.Tables(spark, fixtures, "documents").orderBy("doc_id").select("text")
      .collect().map(_.getString(0)).toIndexedSeq

  /** Write one topic file atomically: the file-stream source ignores
    * names starting with '.', so the rename publishes it whole. */
  def publish(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, lines.asJava)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Open loop: one generator thread publishes envelope files to a topic
  * directory on a fixed schedule, at a ladder of offered rates, while
  * the stream `readStream -> decodeDocs -> curateBatch -> process`
  * consumes them. Each record is timed from its due time to the return
  * of its micro-batch's commit. After the ladder, a pre-produced backlog
  * of `DrainRecordsPerS * seconds` records is drained with AvailableNow. */
final class IngestWorkload(fixtures: String, seed: Long, seconds: Int) extends Workload {
  import IngestWorkload._

  private val root = Main.stageDirsRoot.resolve("perfbench-ingest")
  private val drainRecords = DrainRecordsPerS * seconds
  private var texts = IndexedSeq.empty[String]
  private var drainExpect = 0L

  /** Loads the documents fixture, produces the drain backlog, and warms
    * the write path with two curated batches on static frames (the
    * second one dedups against the first's commit). */
  def setup(spark: SparkSession): Unit = {
    if (Files.exists(root)) deleteTree(root)
    Files.createDirectories(root)
    texts = DocSource.fixtureTexts(spark, fixtures)
    val src = new DocSource(texts, seed ^ 0x5eed)
    val topic = Files.createDirectories(root.resolve("drain-topic"))
    (0 until DrainFiles).foreach { k =>
      DocSource.publish(topic, f"part-$k%05d.json", src.lines(drainRecords / DrainFiles, k.toLong))
    }
    drainExpect = src.distinctPassing

    val warm = new ExactlyOnceSink(root.resolve("warm-table").toString, "perfbench-warm")
    Seq(0, 1).foreach { k =>
      val env = spark.read.schema(KafkaEnvelope.envelopeSchema)
        .json(root.resolve(f"drain-topic/part-$k%05d.json").toString)
      CurationPipeline.curateBatch(KafkaEnvelope.decodeDocs(env), warm, k.toLong)
    }
    warm.read(spark).count()
  }

  def run(spark: SparkSession, tracer: Tracer, ledger: Option[JobLedger]): Outcome = {
    val problems = Seq.newBuilder[String]
    val totalFiles = math.max(RungShare.sum, math.round(seconds / FileIntervalS).toInt)
    val rungFiles = RungShare.map(w => math.max(1, totalFiles * w / RungShare.sum))
    val rungStart = rungFiles.scanLeft(0)(_ + _)
    val rungOf = rungFiles.indices.flatMap(r => Seq.fill(rungFiles(r))(r)).toArray

    // ---- ladder -------------------------------------------------------
    val topic = Files.createDirectories(root.resolve("topic"))
    val ckpt = root.resolve("ckpt").toString
    val sink = new TimedSink(root.resolve("table").toString, "perfbench-ingest", tracer)
    val commitNs = new ConcurrentHashMap[Long, Long]()
    val src = new DocSource(texts, seed)
    val stream = KafkaEnvelope.decodeDocs(KafkaEnvelope.readStream(spark, topic.toString, 100000))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (df: DataFrame, id: Long) =>
        tracer.span("curation", "curateBatch", s"batch-$id") {
          CurationPipeline.curateBatch(df, sink, id)
        }
        commitNs.put(id, System.nanoTime())
        ()
      }
      .start()

    val nFiles = rungStart.last
    val dueNs = new Array[Long](nFiles)
    val wroteNs = new Array[Long](nFiles)
    val records = new Array[Int](nFiles)
    // the schedule starts just after a trigger tick (ticks fall on epoch
    // multiples of the interval), so every run sees the same phase
    // between file due times and micro-batch starts
    val nowMs = System.currentTimeMillis()
    val nowNs = System.nanoTime()
    val startMs = (nowMs + LeadInMs) / TriggerMs * TriggerMs + TriggerMs + PhaseMs
    val t0 = nowNs + (startMs - nowMs) * 1000000L
    val epochOffsetUs = nowMs * 1000L - nowNs / 1000L
    val gen = new Thread(() => {
      var k = 0
      while (k < nFiles) {
        val rate = Rungs(rungOf(k))
        dueNs(k) = t0 + (k * FileIntervalS * 1e9).toLong
        records(k) = math.max(1, math.round(rate * FileIntervalS).toInt)
        val wait = dueNs(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        tracer.span("source", "publish", f"file-$k%05d") {
          DocSource.publish(topic, f"part-$k%05d.json",
            src.lines(records(k), epochOffsetUs + dueNs(k) / 1000L))
        }
        wroteNs(k) = System.nanoTime()
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    stream.processAllAvailable()
    val ladderEnd = System.nanoTime()
    stream.stop()
    val progress = stream.recentProgress.filter(_.numInputRows > 0).toSeq

    // file -> micro-batch, from the stream's own source log
    val batchOf = sourceLog(java.nio.file.Paths.get(ckpt, "sources", "0"))
    val fileDone = (0 until nFiles).map { k =>
      batchOf.get(f"part-$k%05d.json").flatMap(b => Option(commitNs.get(b))).getOrElse(ladderEnd)
    }
    val latPerFile = (0 until nFiles).map(k => Stats.openLoopLatency(dueNs(k), fileDone(k)))
    val mid = Rungs.size / 2
    val midOps = (rungStart(mid) until rungStart(mid + 1))
      .flatMap(k => Seq.fill(records(k))(latPerFile(k)))
    val late = (0 until nFiles).map(k => Stats.lateness(dueNs(k), wroteNs(k)))

    val filesPerTrigger = (TriggerMs / 1000.0 / FileIntervalS).toInt
    val rungStats = Rungs.indices.map { r =>
      val ks = rungStart(r) until rungStart(r + 1)
      val ops = ks.flatMap(k => Seq.fill(records(k))(latPerFile(k)))
      val start = dueNs(ks.head)
      val end = dueNs(ks.last) + (FileIntervalS * 1e9).toLong
      val wrote = wroteNs.toSeq
      val backlogs = ks.map(k => Stats.backlogAt(wroteNs(k), wrote, fileDone))
      val growth = Stats.backlogAt(end, wrote, fileDone) - Stats.backlogAt(start, wrote, fileDone)
      val tail = Stats.tail(ops)
      Map[String, Any]("rate" -> Rungs(r), "records" -> ops.size, "op_p50_s" -> Stats.median(ops),
        "op_tail_s" -> tail.value, "tail_percentile" -> tail.percentile,
        "backlog_files_max" -> backlogs.max, "backlog_growth" -> growth,
        "sustained" -> (tail.value <= TailLimitS && growth <= filesPerTrigger))
    }
    val sustained = rungStats.filter(_("sustained") == true).map(_("rate").asInstanceOf[Int])
      .foldLeft(0)(math.max)

    val kept = sink.read(spark).count()
    if (kept != src.distinctPassing)
      problems += s"ingest committed $kept rows, generator sent ${src.distinctPassing} distinct gated texts"

    // ---- drain ----------------------------------------------------------
    val drainSink = new TimedSink(root.resolve("drain-table").toString, "perfbench-drain", tracer)
    val drainPerTrigger = math.max(1, DrainFiles / DrainBatches)
    val d0 = System.nanoTime()
    val dq = KafkaEnvelope.decodeDocs(KafkaEnvelope.readStream(spark,
        root.resolve("drain-topic").toString, drainPerTrigger))
      .writeStream
      .option("checkpointLocation", root.resolve("drain-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        tracer.span("curation", "curateBatch", s"drain-$id") {
          CurationPipeline.curateBatch(df, drainSink, id)
        }
        ()
      }
      .start()
    dq.awaitTermination()
    val drainWall = (System.nanoTime() - d0) / 1e9
    val drainKept = drainSink.read(spark).count()
    if (drainKept != drainExpect)
      problems += s"drain committed $drainKept rows, generator sent $drainExpect distinct gated texts"

    val failed = problems.result()
    val attempted = src.offered + drainRecords
    val wrongRows = math.abs(kept - src.distinctPassing) + math.abs(drainKept - drainExpect)
    val (layers, rows) = ledger match {
      case Some(l) =>
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        ingestLayers(spark, tracer, l, sink, progress, late, rungStats, sustained,
          src, kept, (ladderEnd - t0) / 1e9 + drainWall)
      case None => (Map.empty[String, Double], Nil)
    }
    deleteTree(root)
    Outcome(midOps, drainWall, drainRecords / drainWall, attempted,
      if (failed.isEmpty) 0L else math.max(1L, wrongRows), failed, layers, rows,
      Map("rungs" -> rungStats, "sustained_rps" -> sustained, "offered" -> src.offered,
        "kept" -> kept,
        "gate_fail_share" -> src.offeredFailing.toDouble / math.max(1L, src.offered),
        "drain_records" -> drainRecords, "drain_kept" -> drainKept,
        "late_ms_max" -> late.max, "micro_batches" -> progress.size))
  }

  private def ingestLayers(spark: SparkSession, tracer: Tracer, ledger: JobLedger,
      sink: TimedSink, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      late: Seq[Double], rungs: Seq[Map[String, Any]], sustained: Int, src: DocSource,
      kept: Long, busyWall: Double): (Map[String, Double], Seq[Map[String, Any]]) = {
    val spans = tracer.spans
    val work = ledger.bySpan
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, keys: String*) =
      keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    def med(keys: String*) = if (progress.isEmpty) 0.0 else Stats.median(progress.map(dur(_, keys: _*)))
    val hist = sink.history(spark).collect()
    val logDir = java.nio.file.Paths.get(root.resolve("table").toString, "_graft_log")
    val checkpoints = if (!Files.isDirectory(logDir)) 0
      else { val st = Files.list(logDir)
        try st.iterator().asScala.count(_.getFileName.toString.contains("checkpoint"))
        finally st.close() }
    val tableBytes = Main.bytesUnder(root.resolve("table"))
    val total = work.values.foldLeft(new Work)(_ add _)
    def spanSeconds(name: String) =
      spans.filter(s => s.layer == "sink" && s.name == name).map(_.seconds).sum
    val layers = Map(
      "source.late_ms" -> late.max,
      "source.backlog_files_max" -> rungs.map(_("backlog_files_max").asInstanceOf[Int]).max.toDouble,
      "source.backlog_growth" -> rungs.map(_("backlog_growth").asInstanceOf[Int]).max.toDouble,
      "source.sustained_rps" -> sustained.toDouble,
      "stream.trigger_ms" -> med("triggerExecution"),
      "stream.offsets_ms" -> med("latestOffset", "getBatch"),
      "stream.plan_ms" -> med("queryPlanning"),
      "stream.wal_ms" -> med("walCommit", "commitOffsets"),
      "stream.batch_ms" -> med("addBatch"),
      "curation.in_rows" -> src.offered.toDouble,
      "curation.kept_rows" -> kept.toDouble,
      "curation.kept_ratio" -> kept.toDouble / math.max(1L, src.offered),
      "sink.process_s" -> spanSeconds("process"),
      "sink.read_s" -> spanSeconds("read"),
      "sink.versions" -> hist.length.toDouble,
      "sink.files_added" -> hist.map(_.getAs[Int]("num_added_files").toLong).sum.toDouble,
      "sink.files_removed" -> hist.map(_.getAs[Int]("num_removed_files").toLong).sum.toDouble,
      "sink.dvs" -> hist.map(_.getAs[Int]("num_deletion_vectors").toLong).sum.toDouble,
      "sink.checkpoints" -> checkpoints.toDouble,
      "sink.table_mb" -> tableBytes / 1e6,
      "sink.write_amp" -> tableBytes.toDouble / math.max(1L, src.offeredBytes)) ++
      Layers.exec(total, busyWall, Main.Cores)
    val rows = progress.map { p =>
      val trace = s"batch-${p.batchId}"
      val ss = spans.filter(_.trace == trace)
      val w = ss.foldLeft(new Work)((acc, s) => work.get(s.id).fold(acc)(acc.add))
      Map[String, Any]("trace" -> trace, "input_rows" -> p.numInputRows,
        "trigger_ms" -> dur(p, "triggerExecution"), "offsets_ms" -> dur(p, "latestOffset", "getBatch"),
        "plan_ms" -> dur(p, "queryPlanning"), "wal_ms" -> dur(p, "walCommit", "commitOffsets"),
        "batch_ms" -> dur(p, "addBatch"),
        "sink_s" -> ss.filter(_.layer == "sink").map(_.seconds).sum,
        "jobs" -> w.jobs, "tasks" -> w.tasks, "task_s" -> w.taskNs / 1e9,
        "shuffle_write_mb" -> w.shuffleWrite / 1e6, "shuffle_read_mb" -> w.shuffleRead / 1e6)
    }
    (layers, rows)
  }
}

object IngestWorkload {
  /** Offered rates of the ladder, records/s, and each rung's share of
    * the timed seconds. Latency percentiles are taken at the middle rung,
    * which gets half of the time. The rungs are a factor of 8 apart so
    * that, measured on a 4-core host, the lower two meet `TailLimitS`
    * and the top one does not, even when neighbours slow the host: the
    * ladder brackets the sustained rate. */
  val Rungs: Seq[Int] = Seq(250, 2000, 16000)
  val RungShare: Seq[Int] = Seq(1, 2, 1)
  val FileIntervalS = 0.2
  /** The daemon's trigger interval, and where the file schedule starts
    * relative to a trigger tick. */
  val TriggerMs = 2000L
  val PhaseMs = 100L
  val LeadInMs = 1500L
  /** Frozen tail-latency limit a rung must meet to count as sustained:
    * a record waits at most one trigger interval for the next tick, and
    * its micro-batch must commit within the following one. A rung is
    * sustained when it meets the limit and its backlog grew by no more
    * than one trigger interval's files. */
  val TailLimitS = 2.0 * TriggerMs / 1000.0
  /** The drain backlog: records per timed second, so a longer run drains
    * more, in `DrainBatches` micro-batches of `DrainFiles / DrainBatches`
    * files each. */
  val DrainRecordsPerS = 1000
  val DrainFiles = 32
  val DrainBatches = 8

  /** file name -> micro-batch id, from a file-stream source's metadata
    * log (one JSON entry per file, each with its batchId). */
  def sourceLog(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
      val st = Files.list(dir)
      try st.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .flatMap { f =>
        Files.readAllLines(f).asScala.collect {
          case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
        }
      }.toMap
      finally st.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally st.close()
  }
}
