package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --out <dir> --cores <n>
  *   Main --selftest 1 --out <dir> --cores <n>
  * }}}
  *
  * Everything the run writes goes under `--out`. The result is written to
  * `<out>/result.json`; run.py turns it into the printed report.
  */
object Main {
  /** Set-ups built per run; `setup_s` is their median. */
  val Setups = 3
  /** Salt of the warm-up's operation stream. */
  val WarmSalt = 0x5eed5eedL
  /** Bounds a warm-up whose slowest class never comes up. */
  val WarmCapS = 120.0
  /** Samples the measured loop takes of every class at least, so that no
    * class median rests on a single operation.
    */
  val MinSamples = 2

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(out)
    val spark = session(out, opts("cores").toInt)
    val code =
      try {
        if (opts.get("selftest").contains("1")) SelfTest.run(spark, out)
        else {
          run(spark, opts("workload"), opts("seed").toLong,
            opts("seconds").toDouble, opts("trace") == "1", out)
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }

  def session(out: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions",
        "graft.connector.GraftSparkSessionExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Trace.sc = s.sparkContext
    s
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, out: Path): Unit = {
    Trace.on = trace
    if (trace) spark.sparkContext.addSparkListener(new SparkProbe)
    val wl = Workload.byName(name, spark, seed)
    val rec = new Recorder(spark.sparkContext)
    val start = System.nanoTime
    def phase(p: String): Unit =
      println(f"perfbench phase $p at ${(System.nanoTime - start) / 1e9}%.1f s")
    try {
      val setups = (0 until Setups).map { i =>
        val t0 = System.nanoTime
        wl.setup(out.resolve(s"setup-$i"))
        val s = (System.nanoTime - t0) / 1e9
        phase(f"set-up $i took $s%.2f s")
        // warm the JIT and Spark's code caches on a throwaway copy, with one
        // operation of every class, before the copy the loop measures is
        // built
        if (i == 0) {
          wl.rnd = new Random(seed ^ WarmSalt)
          loop(wl, rec, 0, 1, WarmCapS)
          phase(s"warmed with ${rec.ops.size} ops")
        }
        s
      }
      phase("set up and warmed")
      val warmOps = rec.ops.size
      wl.rnd = new Random(seed)
      val j0 = Env.cpuJiffies()
      val gc0 = Env.gcMs()
      val t0 = System.nanoTime
      loop(wl, rec, seconds, MinSamples, seconds * 4)
      val loopS = (System.nanoTime - t0) / 1e9
      phase("measured")
      val j1 = Env.cpuJiffies()
      val env = Seq(
        ("env.steal_frac", (j1._1 - j0._1).toDouble / math.max(1L, j1._2 - j0._2)),
        ("env.gc_s", (Env.gcMs() - gc0) / 1000.0))
      val measured = rec.ops.drop(warmOps).toSeq
      val report = new Report(wl, measured, setups, loopS)
      report.endToEnd(Env.rssPeakMb(),
        Workload.storageAmp(spark, wl.tables, out.resolve("plain")))
      report.named ++= wl.extra(measured)
      report.named += (("failed_frac", rec.ops.count(!_.ok).toDouble / rec.ops.size,
        "ratio", rec.ops.size.toLong))
      if (trace) report.layers(spark, env)
      report.write(out, name, seed, trace, rec)
      Spans.write(out, measured)
      phase("reported")
    } finally wl.close()
  }

  /** Runs the workload's schedule until `seconds` have passed and every
    * class has at least `samples` samples, or until `cap` seconds have
    * passed (a run whose slowest class never comes up in time).
    */
  def loop(wl: Workload, rec: Recorder, seconds: Double, samples: Int,
      cap: Double): Unit = {
    val first = rec.ops.size
    val t0 = System.nanoTime
    def elapsed = (System.nanoTime - t0) / 1e9
    def missing = wl.classes.exists(c =>
      rec.ops.iterator.drop(first).count(_.cls == c) < samples)
    while ((elapsed < seconds || missing) && elapsed < cap) wl.step(rec)
  }

  private[perfbench] val json = new ObjectMapper()

  def writeJson(p: Path, v: AnyRef): Unit =
    Files.write(p, json.writerWithDefaultPrettyPrinter.writeValueAsBytes(v))
}
