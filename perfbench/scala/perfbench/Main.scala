package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** One closed-loop client in one JVM: set the workload up and warm it
  * with untimed passes, then run whole passes over its operation list until the time is up,
  * each operation issued when the previous one returns.
  *
  *   perfbench.Main --workload W --corpus DIR --work DIR --seconds S
  *                  --trace 0|1 --cores K --out FILE
  *
  * Writes one JSON report to --out (metrics, per-operation call and
  * failure counts, the host probe) and the first result of every
  * operation to <work>/dumps/<op>.json, for the independent checks. */
object Main {
  val WarmupPasses = 1

  /** An operation's output: its column names and collected rows */
  final case class Result(columns: Seq[String], rows: Seq[Row])
  final case class Op(name: String, layer: String, run: () => Result)

  /** Workload contract: `beforePass` runs between passes, outside every
    * timing. */
  trait Workload {
    def beforePass(pass: Int): Unit = ()
    def ops: Seq[Op]
    /** (name, sql) of the program's declared oracle for each op that has one */
    def oracles: Seq[(String, String)] = Seq.empty
    /** the corpus tables the operations read: write_amp's denominator */
    def inputTables: Seq[String]
    /** the snapshot-log table whose commits the traced run counts */
    def logTable: Option[String] = None
    def extraReport: Map[String, Any] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val corpus = new File(opt("corpus")).getAbsolutePath
    val work = new File(opt("work")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = opt.getOrElse("cores", "4").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    Files.createDirectories(Paths.get(work, "dumps"))
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val probeStart = HostProbe.spinMs()

    // ---- set-up: session, the workload's catalog, then untimed passes
    // over the operation list; the first call of every operation pays class
    // loading, codegen and most of the JIT. Per-pass walls keep falling for
    // a few passes (copy 13.2, 6.0, 5.3, 5.3 s; dedup 18.3, 6.5, 5.2, 5.3 s;
    // ingest 14.7, 5.0, 4.3, 3.5, 3.6 s), but one pass is all the benchmark's
    // time budget (70 runs and two builds in 3420 s) allows, and three measured no steadier on ingest.
    val firstDigest = mutable.Map[String, String]()
    val mismatches = mutable.Map[String, Int]().withDefaultValue(0)
    val calls = mutable.Map[String, Int]().withDefaultValue(0)
    val errors = mutable.Map[String, String]()
    var pass = 0

    /** One op call: time it, digest its output, dump the first result. */
    def call(op: Op, onDone: (Op, Long, Long) => Unit): Double = {
      val t0 = System.nanoTime()
      val out =
        try Some(op.run())
        catch { case e: Throwable =>
          errors.getOrElseUpdate(op.name, s"${e.getClass.getName}: ${e.getMessage}".take(400))
          None
        }
      val t1 = System.nanoTime()
      onDone(op, t0, t1)
      calls(op.name) += 1
      out match {
        case None => mismatches(op.name) += 1
        case Some(res) =>
          val d = Canon.digest(res.rows)
          firstDigest.get(op.name) match {
            case None =>
              firstDigest(op.name) = d
              Files.writeString(Paths.get(work, "dumps", s"${op.name}.json"), Canon.dump(res), UTF_8)
            case Some(f) => if (f != d) mismatches(op.name) += 1
          }
      }
      (t1 - t0) / 1e9
    }

    val spark = Session.build(cores, work)
    val wl = Workloads(workload, spark, corpus, work, cores)
    val warmupWall = mutable.ArrayBuffer[Double]()
    for (_ <- 0 until WarmupPasses) {
      wl.beforePass(pass)
      warmupWall += wl.ops.map(op => call(op, (_, _, _) => ())).sum
      pass += 1
    }
    // JVM start to the first timed operation
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // set-up calls are checked like any other, but counted apart
    val setupCalls = calls.toMap
    val setupMismatch = mismatches.toMap

    // ---- timed part: whole passes until the time is up
    val tracer = if (traced) Some(new Tracer(spark, work, wl.logTable)) else None
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passWall = mutable.ArrayBuffer[Double]()
    val passCpu = mutable.ArrayBuffer[Double]()
    val opLat = mutable.ArrayBuffer[Double]()
    val latByOp = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val io0 = ProcIo.wchar()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var timedPasses = 0
    while (timedPasses == 0 || System.nanoTime() < deadline) {
      wl.beforePass(pass)
      val cpu0 = osBean.getProcessCpuTime
      var wall = 0.0
      for (op <- wl.ops) {
        val dt = call(op, (o, a, b) => tracer.foreach(_.span(o.name, o.layer, pass, a, b)))
        opLat += dt
        latByOp.getOrElseUpdate(op.name, mutable.ArrayBuffer()) += dt
        wall += dt
      }
      passCpu += (osBean.getProcessCpuTime - cpu0) / 1e9
      passWall += wall
      pass += 1
      timedPasses += 1
    }
    val io1 = ProcIo.wchar()
    val probeEnd = HostProbe.spinMs()

    // ---- end of run: what stays live after a full GC
    val layers = tracer.map(_.finish(timedPasses)).getOrElse(Map.empty[String, Double])
    // Spark's ContextCleaner frees blocks of collected RDDs and broadcasts
    // asynchronously after a GC: collect, let it run, and keep the least
    val liveHeapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    // bytes written per timed pass, per byte of the workload's input tables
    val writtenPerPass = (io1 - io0).toDouble / timedPasses
    val inputBytes = wl.inputTables.map(t => Tracer.dirBytes(new File(corpus, s"$t.parquet"))).sum

    val timedCalls = calls.map { case (k, n) => k -> (n - setupCalls.getOrElse(k, 0)) }.toMap
    val timedFailed = mismatches.map { case (k, n) => k -> (n - setupMismatch.getOrElse(k, 0)) }.toMap
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(passWall.toSeq),
      "op_p50_s" -> Stats.median(opLat.toSeq),
      "cpu_s" -> Stats.median(passCpu.toSeq),
      "live_heap_mb" -> liveHeapMb,
      "write_amp" -> writtenPerPass / inputBytes)
    val report = Map[String, Any](
      "workload" -> workload,
      "traced" -> traced,
      "warmup_pass_wall_s" -> warmupWall.toSeq,
      "timed_passes" -> timedPasses,
      "pass_wall_s" -> passWall.toSeq,
      "op_samples" -> opLat.size,
      "op_median_s" -> latByOp.map { case (k, v) => k -> Stats.median(v.toSeq) },
      "probe_ms" -> Map("start" -> probeStart, "end" -> probeEnd),
      "timed_calls_by_op" -> timedCalls,
      "timed_failed_by_op" -> timedFailed,
      "errors" -> errors.toMap,
      "ops" -> wl.ops.map(o => Map("name" -> o.name, "layer" -> o.layer)),
      "oracle_sql" -> wl.oracles.toMap,
      "e2e" -> e2e,
      "layers" -> layers,
      "input_mb" -> inputBytes / 1048576.0,
      "written_mb_per_pass" -> writtenPerPass / 1048576.0) ++ wl.extraReport
    Files.writeString(Paths.get(opt("out")), Json.write(report) + "\n", UTF_8)
    spark.stop()
    System.exit(0) // streaming/derby leave non-daemon threads behind
  }
}

object Session {
  /** The engine's session policy (the same settings the project's bench
    * and verify mains use), rooted inside the run's work directory. */
  def build(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.fs.file.impl", "graft.core.FastLocalFileSystem")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A fixed single-core spin, timed: the host's health inside the run. */
object HostProbe {
  @volatile private var sink = 0L
  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }
}

/** Bytes this process handed to write(2) and friends: published data,
  * logs, checkpoints, shuffle and spill alike. The run fails where
  * /proc/self/io cannot be read: write_amp has no other numerator. */
object ProcIo {
  def wchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).toArray(Array.empty[String])
      .find(_.startsWith("wchar:")).map(_.split(":")(1).trim.toLong)
      .getOrElse(sys.error("no wchar in /proc/self/io"))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
