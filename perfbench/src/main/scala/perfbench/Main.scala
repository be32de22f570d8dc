package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a workload's timed phase measured. `ops` are the latencies in
  * seconds the op metrics are taken over (per query, for a query
  * workload); `layers` and `rows` are filled only by a traced run. */
final case class Outcome(
    ops: Seq[Double],
    wallS: Double,
    throughput: Double,
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    layers: Map[String, Double],
    rows: Seq[Map[String, Any]],
    info: Map[String, Any])

trait Workload {
  /** Workload-specific set-up on the run's session: the inputs the timed
    * phase needs, and any warm-up of its code paths. */
  def setup(spark: SparkSession): Unit

  /** The timed phase. */
  def run(spark: SparkSession, tracer: Tracer, ledger: Option[JobLedger]): Outcome
}

/** Runs one workload in a fresh JVM and writes its artifact.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --fixtures <dir> --lists <dir> --out <file>
  *
  * The last line on stdout is a JSON summary that run.py turns into the
  * benchmark's result line. */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stageDirsRoot: Path = Paths.get(sys.props("java.io.tmpdir"))

  /** Directories graft's stage cache and SinkOps' committed-table cache
    * create under java.io.tmpdir. */
  def stageDirs(tmp: Path): Set[Path] =
    if (!Files.isDirectory(tmp)) Set.empty
    else {
      val st = Files.list(tmp)
      try st.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("graft-"))
        .toSet
      finally st.close()
    }

  def bytesUnder(p: Path): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  /** Peak resident set size of this JVM in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) Double.NaN
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def parse(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val name = a("workload")
    val tmp = stageDirsRoot
    val stale = stageDirs(tmp)
    if (stale.nonEmpty) {
      System.err.println(s"perfbench: cache dirs existed before the run: ${stale.mkString(", ")}")
      sys.exit(3)
    }
    val lists = Paths.get(a("lists"))
    val wl: Workload = name match {
      case "query_heavy" => new QueryWorkload(lists, a("fixtures"))
      case "ingest" => new IngestWorkload(a("fixtures"), a("seed").toLong, a("seconds").toInt)
      case other =>
        System.err.println(s"perfbench: unknown workload $other")
        sys.exit(2)
    }
    val traced = a.getOrElse("trace", "0") == "1"

    val c0 = System.nanoTime()
    val calibBefore = graft.Bench.calibrate()
    val calibMtBefore = graft.Bench.calibrateMt()._1
    val calibS = (System.nanoTime() - c0) / 1e9

    val spark = session()
    wl.setup(spark)

    val tracer = new Tracer(traced)
    tracer.sc = Some(spark.sparkContext)
    val ledger = if (traced) {
      val l = new JobLedger
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    // set-up runs from JVM start to the first timed op: JVM start, class
    // loading, the session and the workload's set-up, less the sentinels
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibS
    val dirsBefore = stageDirs(tmp)
    val out = wl.run(spark, tracer, ledger)
    val built = (stageDirs(tmp) -- dirsBefore).toSeq.sortBy(_.toString)
    val builtMb = built.map(bytesUnder).sum / 1e6

    val calibAfter = graft.Bench.calibrate()
    val calibMtAfter = graft.Bench.calibrateMt()._1
    val rss = peakRssMb()
    spark.stop()

    val tail = Stats.tail(out.ops)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> out.wallS,
      "op_p50_s" -> Stats.median(out.ops),
      "op_tail_s" -> tail.value,
      "throughput_rps" -> out.throughput,
      "peak_rss_mb" -> rss)
    val layers = if (!traced) Map.empty[String, Double] else out.layers ++ Map(
      "stagecache.builds" -> built.size.toDouble,
      "stagecache.mb" -> builtMb,
      "trace.spans" -> tracer.spans.size.toDouble,
      "trace.overhead_s" -> tracer.overheadSeconds)
    val artifact = Map(
      "workload" -> name,
      "seed" -> a("seed").toLong,
      "seconds" -> a("seconds").toInt,
      "traced" -> traced,
      "cores" -> Cores,
      "end_to_end" -> endToEnd,
      "op_tail" -> Map("percentile" -> tail.percentile, "samples" -> tail.n,
        "beyond" -> math.min(Stats.TailBeyond, tail.n - 1)),
      "sentinels_s" -> calibS,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failed_ratio" -> out.failed.toDouble / math.max(1L, out.attempted),
      "problems" -> out.problems,
      "stagecache" -> Map("builds" -> built.size, "mb" -> builtMb,
        "dirs" -> built.map(_.getFileName.toString)),
      "host" -> Map(
        "calib_before" -> calibBefore, "calib_after" -> calibAfter,
        "calib_nominal" -> HostNominal.CalibSec,
        "calib_mt_before" -> calibMtBefore, "calib_mt_after" -> calibMtAfter,
        "calib_mt_nominal" -> HostNominal.CalibMtSec,
        "loaded" -> (math.max(calibBefore, calibAfter) > HostNominal.CalibSec * 1.10 ||
          math.max(calibMtBefore, calibMtAfter) > HostNominal.CalibMtSec * 1.10)),
      "per_layer" -> layers,
      "info" -> out.info,
      "layer_rows" -> out.rows)
    Files.writeString(Paths.get(a("out")), Json(artifact) + "\n")
    println(Json(Map(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> layers)))
  }
}

/** Idle-host values of graft.Bench's CPU sentinels on the 4-core box the
  * benchmark was defined on (median of idle runs). A run whose sentinels
  * exceed these by more than 10% ran on a loaded host. */
object HostNominal {
  val CalibSec = 1.08
  val CalibMtSec = 0.27
}
