package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run: one span per operation (name, layer, start, end,
  * parent pass), with the Spark jobs, stages, tasks and streaming
  * progress that ran inside it attributed to it. Operations run one at a
  * time, so a job belongs to the span whose interval holds its
  * submission; spans stay in memory and are written out at the end. */
final class Tracer(spark: SparkSession, work: String, logTable: Option[String]) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = new ConcurrentHashMap[Int, (Long, Seq[Int])]()  // job -> (submit ms, stages)
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val sc = spark.sparkContext
  private val startMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, (e.time, e.stageIds))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val commit = p.stateOperators.map(_.commitTimeMs).sum
      progress.add((at, dur, commit))
    }
  }
  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  private def nowMs(ns: Long): Long = startMs + (ns - nanoBase) / 1000000L

  /** Close one operation's span; record what the program left behind. */
  def span(name: String, layer: String, pass: Int, t0: Long, t1: Long): Unit = {
    val infos = sc.getRDDStorageInfo
    val persisted = infos.map(i => i.memSize + i.diskSize).sum
    spans += Span(name, layer, pass, nowMs(t0), nowMs(t1), (t1 - t0) / 1e9,
      infos.length, persisted, snapshotLogStats())
  }

  // snapshot-log commits of the workload's own table, per span
  private var lastVersion = -1L
  private def snapshotLogStats(): (Long, Long) =
    logTable.filter(t => new File(t).isDirectory) match {
      case None => (0L, 0L)
      case Some(t) =>
        val vs = graft.core.SnapshotLog.versions(t)
        val fresh = vs.filter(_ > lastVersion)
        lastVersion = vs.lastOption.getOrElse(-1L)
        (fresh.size.toLong, fresh.map(v => graft.core.SnapshotLog.readRecord(t, v).adds.size.toLong).sum)
    }

  /** Per-layer totals per timed pass; spans written to <work>/spans.jsonl. */
  def finish(passes: Int): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    // a job or progress event belongs to the span whose window holds it
    val byWindow = spans.sortBy(_.startMs)
    def owner(ms: Long): Option[Span] =
      byWindow.find(s => ms >= s.startMs && ms <= s.endMs)
    val agg = mutable.Map[Span, SpanAgg]()
    jobs.asScala.foreach { case (_, (t, stageIds)) =>
      owner(t).foreach { s =>
        val a = agg.getOrElseUpdate(s, new SpanAgg)
        a.jobs += 1
        stageIds.foreach { id =>
          Option(stages.get(id)).foreach { st =>
            a.stages += 1; a.tasks += st.tasks; a.cpuNs += st.cpuNs; a.shuffle += st.shuffle
            a.spill += st.spill; a.input += st.input; a.output += st.output
          }
        }
      }
    }
    progress.asScala.foreach { case (t, dur, commit) =>
      owner(t).foreach { s =>
        val a = agg.getOrElseUpdate(s, new SpanAgg)
        a.batches += 1; a.batchMs += dur; a.commitMs += commit
      }
    }
    val out = new StringBuilder
    spans.foreach { s =>
      val a = agg.getOrElse(s, new SpanAgg)
      out.append(Json.write(Map[String, Any](
        "name" -> s.name, "layer" -> s.layer, "pass" -> s.pass,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "cpu_s" -> a.cpuNs / 1e9, "shuffle_mb" -> a.shuffle / MB, "spill_mb" -> a.spill / MB,
        "input_mb" -> a.input / MB, "output_mb" -> a.output / MB,
        "persisted_rdds" -> s.persistedRdds, "persisted_mb" -> s.persistedBytes / MB,
        "stream_batches" -> a.batches, "stream_batch_ms" -> a.batchMs,
        "state_commit_ms" -> a.commitMs,
        "log_commits" -> s.log._1, "log_files" -> s.log._2))).append('\n')
    }
    Files.writeString(Paths.get(work, "spans.jsonl"), out.toString, UTF_8)

    val p = math.max(1, passes).toDouble
    val m = mutable.LinkedHashMap[String, Double]()
    for (layer <- Layers) {
      val ss = spans.filter(_.layer == layer)
      val as = ss.map(s => agg.getOrElse(s, new SpanAgg))
      m(s"$layer.calls") = ss.size / p
      m(s"$layer.busy_s") = ss.map(_.wallS).sum / p
      m(s"$layer.cpu_s") = as.map(_.cpuNs).sum / 1e9 / p
      m(s"$layer.jobs") = as.map(_.jobs).sum / p
      m(s"$layer.stages") = as.map(_.stages).sum / p
      m(s"$layer.tasks") = as.map(_.tasks).sum / p
      m(s"$layer.shuffle_mb") = as.map(_.shuffle).sum / MB / p
      m(s"$layer.spill_mb") = as.map(_.spill).sum / MB / p
      m(s"$layer.input_mb") = as.map(_.input).sum / MB / p
      m(s"$layer.output_mb") = as.map(_.output).sum / MB / p
    }
    m("core.Barriers.persisted_mb") = (0.0 +: spans.map(_.persistedBytes / MB)).max
    m("core.Barriers.persisted_rdds") = (0.0 +: spans.map(_.persistedRdds.toDouble)).max
    m("residue_mb") = (dirBytes(new File(s"$work/tmp")) + dirBytes(new File(s"$work/spark-local"))) / MB
    val st = spans.filter(_.layer == "streaming.EventStreams")
    val sa = st.map(s => agg.getOrElse(s, new SpanAgg))
    m("streaming.EventStreams.batches") = sa.map(_.batches).sum / p
    m("streaming.EventStreams.batch_s") = sa.map(_.batchMs).sum / 1000.0 / p
    m("streaming.EventStreams.lifecycle_s") =
      (st.map(_.wallS).sum - sa.map(_.batchMs).sum / 1000.0) / p
    m("streaming.EventStreams.state_commit_ms") = sa.map(_.commitMs).sum / p
    m("core.SnapshotLog.commits") = spans.map(_.log._1).sum / p
    m("core.SnapshotLog.files_written") = spans.map(_.log._2).sum / p
    m.toMap
  }
}

object Tracer {
  val MB = 1048576.0
  val Layers = Seq("core.CopyPipeline", "core.Catalog", "ops.Relational", "ops.Text",
    "ops.Vector", "core.SnapshotLog", "sources.LogBatchScan", "streaming.EventStreams")

  final case class Span(name: String, layer: String, pass: Int, startMs: Long, endMs: Long,
      wallS: Double, persistedRdds: Int, persistedBytes: Long, log: (Long, Long))
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var shuffle = 0L; var spill = 0L; var input = 0L; var output = 0L
  }
  final class SpanAgg {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var cpuNs = 0L; var shuffle = 0L
    var spill = 0L; var input = 0L; var output = 0L
    var batches = 0L; var batchMs = 0L; var commitMs = 0L
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
