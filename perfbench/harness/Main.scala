package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setup` builds the seed's inputs and
  * the standing state under `dir`; `step` runs step `i` of the closed
  * loop (the unit op, plus any maintenance that falls due) through the
  * [[Recorder]]; `check` compares the outputs with an independent
  * computation once the timed loop is over. */
trait Workload {
  def setup(dir: String): Unit
  def step(i: Int, rec: Recorder): Unit
  /** Steps in one period of the workload's schedule. A run ends on a
    * period boundary, so every run measures the same mix of ops. */
  def period: Int
  def check(): Seq[Check]
  /** Workload-specific figures for the trace report (end of run). */
  def report(rec: Recorder): Map[String, Any] = Map.empty
}

/** One output check; `ops` lists the op ids it condemns when it fails. */
final case class Check(name: String, ok: Boolean, detail: String,
                       ops: Seq[Long] = Nil)

/** Times each op of the closed loop. An op that throws, or that writes
  * no bytes, counts as failed; the loop goes on. In a traced run every
  * maintenance op and every other unit op is traced; the untraced unit
  * ops give the baseline the tracing overhead is measured against. */
final class Recorder(trace: Boolean) {
  final case class OpRec(id: Long, kind: String, start: Double, end: Double,
                         items: Long, ok: Boolean, error: String,
                         traced: Boolean, fs: FsStats.Snap)

  private val recs = mutable.ArrayBuffer[OpRec]()
  private var units = 0L

  def ops: Seq[OpRec] = recs.toSeq
  def nextId: Long = recs.size.toLong

  /** Run `body` as one timed op of kind `kind` ("op" is the workload's
    * unit op) that completes `items` items. Returns whether it succeeded. */
  def apply(kind: String, items: Long)(body: => Unit): Boolean = {
    val id = nextId
    val traced = trace && (kind != "op" || units % 2 == 0)
    if (kind == "op") units += 1
    val fs0 = FsStats.snap()
    val t0 = Trace.nowMs()
    val err = try { Trace.op(s"op.$kind", id, traced)(body); "" }
      catch { case e: Throwable =>
        e.printStackTrace()
        s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
      }
    val t1 = Trace.nowMs()
    val fs = FsStats.snap() - fs0
    val ok = err.isEmpty && fs.bytesWritten > 0
    recs += OpRec(id, kind, t0, t1, items, ok,
      if (err.nonEmpty) err else if (!ok) "op wrote 0 bytes" else "", traced, fs)
    ok
  }
}

object Main {
  /** Set-ups per run; `setup_s` is their median. The first runs in a
    * fresh JVM, the second after the warm-up; a third would cost the
    * time of `dedup_stream`'s second takedown in the comparison's
    * budget. */
  val Setups = 2

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def workload(name: String, spark: SparkSession, seed: Long, profile: Profile): Workload =
    name match {
      case "wrangle_etl"      => new WrangleEtl(spark, seed, profile)
      case "dedup_stream"     => new DedupStream(spark, seed, profile)
      case "pref_leaderboard" => new PrefLeaderboard(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val root = new File(arg(args, "root")).getAbsoluteFile
    val out = new File(arg(args, "out"))
    val profile = Profile.load(arg(args, "profile"))
    // A killed run's tables must never leak into this one.
    require(!root.exists() || Option(root.list()).forall(_.isEmpty),
      s"run root $root is not empty; refusing to start")
    root.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(root, "local").getPath)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .config("spark.graft.index.root", new File(root, "index").toURI.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ledger = if (trace) Some(new JobLedger) else None
    try {
      Trace.install(spark.sparkContext)
      ledger.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
      }
      spark.range(1000).selectExpr("sum(id)").collect() // session warm-up

      // Set-up runs `Setups` times, each from scratch in its own
      // directory; the last one's state serves the timed loop. The first
      // one runs untimed steps for as long as the timed loop will run, and
      // at least one, so the loop does not start on cold code paths.
      var warmupS = 0.0
      val setupS = (0 until Setups).map { k =>
        val w = workload(name, spark, seed, profile)
        val t0 = System.nanoTime()
        w.setup(new File(root, s"s$k").getPath)
        val s = (System.nanoTime() - t0) / 1e9
        if (k == 0) {
          val warm = new Recorder(false)
          var j = 0
          do {
            w.step(j, warm)
            j += 1
          } while ((System.nanoTime() - t0) / 1e9 - s < seconds)
          warmupS = (System.nanoTime() - t0) / 1e9 - s
        }
        (s, w)
      }
      val w = setupS.last._2

      val rec = new Recorder(trace)
      JvmStats.resetPeak()
      val gc0 = JvmStats.gcMs()
      val loopStart = System.nanoTime()
      var i = 0
      while ((System.nanoTime() - loopStart) / 1e9 < seconds || i % w.period != 0) {
        w.step(i, rec)
        i += 1
      }
      val loopS = (System.nanoTime() - loopStart) / 1e9
      val gcS = (JvmStats.gcMs() - gc0) / 1000.0
      val peakMb = JvmStats.peakHeapMb()

      val c0 = System.nanoTime()
      val checks = w.check()
      val report = w.report(rec)
      val checkS = (System.nanoTime() - c0) / 1e9
      ledger.foreach(_.awaitQuiet())
      val liveMb = JvmStats.liveHeapMb()

      val result = Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "cores" -> cores,
        "env" -> Map(
          "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "spark" -> spark.version,
          "scala" -> scala.util.Properties.versionNumberString,
          "jdk" -> System.getProperty("java.version")),
        "setup_s" -> setupS.map(_._1), "warmup_s" -> warmupS,
        "loop_s" -> loopS, "check_s" -> checkS,
        "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
          "start" -> o.start, "end" -> o.end, "items" -> o.items, "ok" -> o.ok,
          "error" -> o.error, "traced" -> o.traced, "fs" -> o.fs.toMap)),
        "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
          "detail" -> c.detail, "ops" -> c.ops)),
        "spans" -> Trace.recorded.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end)),
        "jobs" -> ledger.map(_.jobRecords).getOrElse(Nil),
        "stages" -> ledger.map(_.stageRecords).getOrElse(Nil),
        "plans" -> ledger.map(_.planRecords).getOrElse(Nil),
        "jvm" -> Map("gc_s" -> gcS, "peak_heap_mb" -> peakMb,
          "live_heap_mb" -> liveMb),
        "report" -> report)
      val json = org.json4s.jackson.Serialization.write(result)(
        org.json4s.DefaultFormats)
      Files.write(out.toPath, json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
