package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * starts this main once per run, and turns the raw samples it writes
  * into the reported metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cpus C
  *       --min-rounds R --data DIR --work DIR --out FILE
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        traced: Boolean, cpus: Int, minRounds: Int, data: String,
                        work: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("min-rounds").toInt, m("data"), m("work"), m("out"))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // sized like graft.Bench: past the fragment count of the mix, so
      // warm rounds are codegen-cache hits
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .config("graft.growing.probeIoDiagnostics", a.traced.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder
    val spark = session(a)
    rec.stamp("jvm_to_session_s", ((System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0).toString)
    val ledger = new Ledger(spark, a.traced)
    val ctx = Ctx(spark, ledger, rec, a)
    val gc0 = gcMs()
    val (host0, proc0) = (hostBusyMs(), procCpuMs())
    try a.workload match {
      case "query_mix" => QueryMix.run(ctx)
      case "sync_incremental" => SyncIncremental.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        rec.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    ledger.close()
    rec.extra("spark.gc_s", (gcMs() - gc0) / 1000.0)
    rec.extra("spark.spill_bytes", ledger.spillBytes.get.toDouble)
    rec.extra("spark.host_other_cpu_s",
      math.max(0L, (hostBusyMs() - host0) - (procCpuMs() - proc0)) / 1000.0)
    rec.extra("peak_rss_mb", vmHwmKb() / 1024.0)
    if (a.traced) {
      ledger.layers.foreach { case (name, acc) =>
        rec.extra(s"$name.wall_s", acc.wallNs / 1e9)
        rec.extra(s"$name.no_job_s", acc.noJobNs / 1e9)
        rec.extra(s"$name.plan_s", acc.planMs / 1000.0)
        rec.extra(s"$name.jobs", acc.jobs.get.toDouble)
        rec.extra(s"$name.stages", acc.stages.get.toDouble)
        rec.extra(s"$name.tasks", acc.tasks.get.toDouble)
        rec.extra(s"$name.task_cpu_s", acc.cpuNs.get / 1e9)
        rec.extra(s"$name.shuffle_bytes", acc.shuffleBytes.get.toDouble)
        rec.extra(s"$name.compiles", acc.compiles.toDouble)
      }
      // warm rounds plus the operations timed outside any round
      val measured = rec.rounds.drop(rec.warmFrom).map(_._2).sum +
        rec.ops.filterNot(_._1.matches("r\\d+\\..*")).map(_._2).sum
      rec.extra("trace.span_share",
        if (measured > 0) ledger.spanWallNs / 1e9 / measured else 0.0)
    }
    rec.stamp("spark_conf", spark.conf.getAll.toSeq.sorted
      .filterNot(_._1.startsWith("spark.app")).map { case (k, v) => s"$k=$v" }
      .mkString(";"))
    rec.stamp("jvm_flags", java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.mkString(" "))
    rec.stamp("heap_max_mb", (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString)
    rec.stamp("spark_version", spark.version)
    Files.writeString(Paths.get(a.out), rec.toJson)
    spark.stop()
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Busy jiffies of the whole host in ms, as graft.Bench computes them:
    * total − idle − iowait − guest − guest_nice. */
  def hostBusyMs(): Long = try {
    val l = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    def at(i: Int) = if (l.length > i) l(i) else 0L
    (l.sum - l(3) - at(4) - at(8) - at(9)) * 10
  } catch { case _: Throwable => 0L }

  def procCpuMs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1000000L
    case _ => 0L
  }

  def vmHwmKb(): Long = try {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  } catch { case _: Throwable => 0L }

  /** Total size and file count of a directory tree. */
  def dirStats(root: Path): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      var bytes = 0L; var files = 0L
      s.filter(Files.isRegularFile(_)).forEach { p => bytes += Files.size(p); files += 1 }
      (bytes, files)
    } finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}

final case class Ctx(spark: SparkSession, ledger: Ledger, rec: Recorder, args: Main.Args) {
  def deadlineNs(start: Long): Long = start + (args.seconds * 1e9).toLong

  /** The next round is the first warm one: per-layer counts start here. */
  def startWarm(): Unit = {
    ledger.reset()
    rec.warmFrom = rec.rounds.size
  }

  /** Whether to start round `round` (0-based): until the minimum count,
    * then while time is left. */
  def another(round: Int, deadline: Long): Boolean =
    round < args.minRounds || System.nanoTime() < deadline
}

/** Raw samples of one run. run.py computes medians and tails from them. */
final class Recorder {
  var firstTimedEpochMs = 0L
  var warmFrom = 0
  /** (name, seconds): one entry per round; the first is the cold one. */
  val rounds = mutable.ArrayBuffer.empty[(String, Double)]
  /** (name, seconds): one entry per operation inside the rounds. */
  val ops = mutable.ArrayBuffer.empty[(String, Double)]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val extras = mutable.LinkedHashMap.empty[String, Double]
  val lists = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val stamps = mutable.LinkedHashMap.empty[String, String]

  def setupDone(): Unit = if (firstTimedEpochMs == 0L) firstTimedEpochMs = System.currentTimeMillis()

  /** Each round records the share of the host's CPU capacity that other
    * processes used during it (a noisy neighbour or hypervisor steal), for
    * the provenance line. */
  private var mark = (0L, 0L, 0L)
  def roundStart(): Unit = mark = (Main.hostBusyMs(), Main.procCpuMs(), System.nanoTime())
  def round(name: String, s: Double): Unit = {
    val wallMs = (System.nanoTime() - mark._3) / 1e6
    val otherMs = (Main.hostBusyMs() - mark._1) - (Main.procCpuMs() - mark._2)
    sample("round_other_cpu_share",
      math.max(0.0, otherMs / (wallMs * Runtime.getRuntime.availableProcessors)))
    rounds += name -> s
  }
  def op(name: String, s: Double): Unit = {
    System.err.println(f"[perfbench] $name%s $s%.3f s")
    ops += name -> s
  }
  def fail(msg: String): Unit = { System.err.println(s"[perfbench] FAIL $msg"); failures += msg }
  def extra(k: String, v: Double): Unit = extras(k) = v
  def sample(k: String, v: Double): Unit = lists.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def stamp(k: String, v: String): Unit = stamps(k) = v

  /** Check an expectation outside the timed region; a mismatch is a
    * failed operation. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) fail(s"check $what: $detail")
  }

  def toJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def pairs(xs: Iterable[(String, Double)]) =
      xs.map { case (k, v) => s"[${q(k)},${num(v)}]" }.mkString("[", ",", "]")
    Seq(
      s""""first_timed_ms":$firstTimedEpochMs""",
      s""""rounds":${pairs(rounds)}""",
      s""""ops":${pairs(ops)}""",
      s""""attempted":$attempted""",
      s""""failures":${failures.map(q).mkString("[", ",", "]")}""",
      s""""extras":${extras.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")}""",
      s""""lists":${lists.map { case (k, v) => s"${q(k)}:${v.map(num).mkString("[", ",", "]")}" }.mkString("{", ",", "}")}""",
      s""""stamps":${stamps.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")}"""
    ).mkString("{", ",", "}")
  }
}
