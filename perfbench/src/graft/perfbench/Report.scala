package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The metrics of one run, computed from the measured operations and (when
  * tracing) the spans and counters recorded around them.
  *
  * Latency metrics use successful operations; failed ones are counted in
  * `failed_frac` and in the result's `failed`.
  */
final class Report(wl: Workload, ops: Seq[OpRec], setups: Seq[Double],
    loopS: Double) {
  type Metric = (Double, String, Long) // value, unit, samples

  val e2e = mutable.LinkedHashMap[String, Metric]()
  val named = mutable.ArrayBuffer[(String, Double, String, Long)]()
  val layer = mutable.LinkedHashMap[String, Metric]()
  val self = mutable.ArrayBuffer[(String, String, Double, Long)]()

  private val ok = ops.filter(_.ok)
  private val byClass = wl.classes.map(c => c -> ok.filter(_.cls == c))
    .filter(_._2.nonEmpty)

  /** Timing lines: a median, and a p90 only where 100 samples support it. */
  private def timing(name: String, ms: Seq[Double], unit: String): Unit =
    if (ms.nonEmpty && !named.exists(_._1 == s"${name}_p50_$unit")) {
      val f = if (unit == "s") 1000.0 else 1.0
      named += ((s"${name}_p50_$unit", Stats.median(ms) / f, unit, ms.size.toLong))
      if (ms.size >= 100)
        named += ((s"${name}_p90_$unit", Stats.quantile(ms, 0.9) / f, unit,
          ms.size.toLong))
    }

  def endToEnd(rssMb: Double, storageAmp: Double): Unit = {
    // geometric mean over classes of each class's median (the TPC-H power
    // metric's shape): every class weighs the same whatever its share of
    // the seeded mix, so the figure does not move with the mix
    e2e("latency_geomean_ms") = (Stats.geomean(byClass.map(c =>
      Stats.median(c._2.map(_.ms)))), "ms", ok.size.toLong)
    e2e("cpu_geomean_ms") = (Stats.geomean(byClass.map(c =>
      Stats.median(c._2.map(_.cpuMs)))), "ms", ok.size.toLong)
    e2e("setup_s") = (Stats.median(setups), "s", setups.size.toLong)

    wl.pooled.foreach { case (n, cs, unit) =>
      timing(n, ok.filter(o => cs.contains(o.cls)).map(_.ms), unit)
    }
    byClass.filterNot(c => wl.pooled.exists(_._2 == Seq(c._1)))
      .foreach { case (c, os) => timing(c, os.map(_.ms), "ms") }
    named += (("ops_per_s", ops.size / loopS, "1/s", ops.size.toLong))
    named += (("cpu_s_per_op", ops.map(_.cpuMs).sum / 1000.0 / ops.size, "s",
      ops.size.toLong))
    // JVM heap growth and the table's history make these two move from
    // run to run by more than any bound could allow, so they are reported
    // but not gated
    named += (("rss_peak_mb", rssMb, "MB", 1L))
    named += (("storage_amp", storageAmp, "ratio", 1L))
  }

  def layers(spark: SparkSession, env: Seq[(String, Double)]): Unit = {
    val ids = ops.map(_.id).toSet
    val n = ops.size.toDouble
    def sum(c: String) = ids.iterator.map(Trace.counter(_, c)).sum
    def opsWith(c: String) = ids.count(id => Trace.counters.containsKey((id, c)))
    def perOpWith(c: String) = sum(c) / math.max(1, opsWith(c))
    val spans = Trace.spans.asScala.toSeq.filter(s => ids(s.op))
    val roots = Spans.roots(spans)
    def dur(s: Span) = (s.endNs - s.startNs) / 1e6
    def medDur(name: String) = {
      val ds = spans.filter(_.name == name).map(dur)
      if (ds.isEmpty) 0.0 else Stats.median(ds)
    }
    val selfMs = Spans.selfTimes(spans)
    val clsOf = ops.map(o => o.id -> o.cls).toMap
    selfMs.groupBy(x => (clsOf(x._1), x._2)).toSeq.sortBy(_._1).foreach {
      case ((c, l), xs) =>
        val k = ops.count(_.cls == c)
        self += ((c, l, xs.map(_._3).sum / k, k.toLong))
    }
    // driver gap: op wall time not covered by any of its Spark jobs
    val gaps = roots.values.toSeq.map { r =>
      val jobs = spans.filter(s => s.op == r.op && s.name == "spark.job")
      dur(r) - Stats.covered(jobs.map(j =>
        (math.max(j.startNs, r.startNs), math.min(j.endNs, r.endNs)))) / 1e6
    }

    val planned = ids.filter(id => Trace.counters.containsKey((id, "table.files_planned")))
    val plannedLive = planned.iterator.map(Trace.counter(_, "table.files_live")).sum
    val data = wl.tables.flatMap(Workload.live(spark, _)).filter(_.content == 0)
    val mutated = sum("table.mutated_bytes")
    val byCls = ok.groupBy(_.cls)
    def stageS(c: String) = byCls.get(c).map(os => Stats.median(os.map(_.ms)) / 1000.0)
      .getOrElse(0.0)
    val k = ops.size.toLong
    Seq[(String, Double, String)](
      ("table.plan_ms", medDur("table.plan"), "ms"),
      ("table.files_live", perOpWith("table.files_live"), "count"),
      ("table.files_planned", perOpWith("table.files_planned"), "count"),
      ("table.prune_frac", if (plannedLive == 0) 0.0
        else 1.0 - planned.iterator.map(Trace.counter(_, "table.files_planned")).sum /
          plannedLive, "ratio"),
      ("table.manifests_read", sum("table.manifests_read") / n, "count"),
      ("table.meta.loads_per_op", sum("table.meta.loads") / n, "count"),
      ("table.meta.load_ms", medDur("table.meta.load"), "ms"),
      ("table.meta.json_kb", sum("table.meta.json_bytes") / 1024.0 /
        math.max(1.0, sum("table.meta.loads")), "KB"),
      ("table.meta.commit_ms", medDur("table.meta.commit"), "ms"),
      ("table.meta.commit_attempts_per_op", perOpWith("table.meta.commit_attempts"),
        "count"),
      ("table.meta.conflicts", sum("table.meta.conflicts"), "count"),
      ("table.files_added_per_op", perOpWith("table.files_added"), "count"),
      ("table.bytes_added_per_op", perOpWith("table.bytes_added"), "bytes"),
      ("table.mean_file_kb", data.map(_.fileSize).sum / 1024.0 /
        math.max(1, data.size), "KB"),
      ("table.rewrite_amp", if (mutated == 0) 0.0
        else sum("table.rewrite_bytes") / mutated, "ratio"),
      ("table.maint_bytes_rewritten", sum("table.maint_bytes"), "bytes"),
      ("rest.calls_per_op", sum("rest.calls") / n, "count"),
      ("rest.ms_per_op", sum("rest.ns") / 1e6 / n, "ms"),
      ("connector.sql_plan_ms", medDur("connector.sql_plan"), "ms"),
      ("spark.jobs_per_op", sum("spark.jobs") / n, "count"),
      ("spark.stages_per_op", sum("spark.stages") / n, "count"),
      ("spark.tasks_per_op", sum("spark.tasks") / n, "count"),
      ("spark.executor_cpu_s", sum("spark.executor_cpu_ns") / 1e9 / n, "s"),
      ("spark.shuffle_write_mb", sum("spark.shuffle_write_bytes") / 1e6 / n, "MB"),
      ("spark.input_mb", sum("spark.input_bytes") / 1e6 / n, "MB"),
      ("driver.gap_ms", Stats.mean(gaps), "ms"),
      ("bench.other_ms", selfMs.filter(_._2 == "bench.other").map(_._3).sum / n, "ms"),
      ("operators.exact_dedup_s", stageS("exact_dedup"), "s"),
      ("operators.minhash_s", stageS("minhash"), "s"),
      ("operators.components_s", stageS("components"), "s"),
      ("operators.quality_s", stageS("quality"), "s"),
      ("operators.ann_topk_s", stageS("ann_topk"), "s"),
      ("operators.curated_append_s", stageS("curated_append"), "s"),
      ("operators.candidate_pairs", perOpWith("operators.candidate_pairs"), "count"),
      ("operators.dup_frac", perOpWith("operators.dup_frac"), "ratio")
    ).foreach { case (name, v, u) => layer(name) = (v, u, k) }
    env.foreach { case (name, v) =>
      layer(name) = (v, if (name.endsWith("_s")) "s" else "ratio", k)
    }
  }

  def write(out: Path, workload: String, seed: Long, trace: Boolean,
      rec: Recorder): Unit = {
    def m(x: Metric) = Map[String, Any]("value" -> x._1, "unit" -> x._2,
      "n" -> x._3).asJava
    def obj(ms: mutable.LinkedHashMap[String, Metric]) = {
      val o = new java.util.LinkedHashMap[String, Any]()
      ms.foreach { case (k, v) => o.put(k, m(v)) }
      o
    }
    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("workload", workload)
    res.put("seed", seed)
    res.put("trace", trace)
    res.put("attempted", rec.ops.size)
    res.put("failed", rec.ops.count(!_.ok))
    res.put("e2e", obj(e2e))
    res.put("named", named.map { case (nm, v, u, k) =>
      Map[String, Any]("name" -> nm, "value" -> v, "unit" -> u, "n" -> k).asJava
    }.asJava)
    res.put("layer", obj(layer))
    res.put("selftime", self.map { case (c, l, v, k) =>
      Map[String, Any]("class" -> c, "layer" -> l, "ms_per_op" -> v, "n" -> k).asJava
    }.asJava)
    res.put("failures", rec.failures.take(20).asJava)
    Main.writeJson(out.resolve("result.json"), res)
  }
}

/** Writes the measured operations and, when tracing, their spans as JSON
  * lines (format in perfbench/README.md).
  */
object Spans {
  /** Each op's root span: the one its `Recorder` opened. */
  def roots(spans: Seq[Span]): Map[Long, Span] =
    spans.filter(s => s.parent == 0 && s.name != "spark.job")
      .map(s => s.op -> s).toMap

  /** (op, layer, self ms) of every span under a root; a root's own self
    * time is named `bench.other`. Each span counts the interval it is
    * placed on: clipped to its parent's, and starting no earlier than its
    * previous sibling ends. Listener times (`spark.job`) can stray past
    * their parent by rounding, and concurrent jobs of one span overlap;
    * placed this way, every instant of an op counts once, so its self
    * times add up to its wall time.
    */
  def selfTimes(spans: Seq[Span]): Seq[(Long, String, Double)] = {
    val roots = Spans.roots(spans)
    // a span's parent, with stray parentless spans hung under their op
    def parentOf(s: Span) =
      if (s.parent != 0 || roots.get(s.op).contains(s)) s.parent
      else roots.get(s.op).map(_.id).getOrElse(0L)
    val children = spans.groupBy(parentOf)
    val placed = mutable.Map[Long, (Long, Long)]()
    def place(s: Span, lo: Long, hi: Long): Unit = {
      placed(s.id) = (lo, hi)
      var at = lo
      children.getOrElse(s.id, Seq.empty).sortBy(_.startNs).foreach { c =>
        val a = math.min(math.max(c.startNs, at), hi)
        val b = math.max(a, math.min(c.endNs, hi))
        place(c, a, b)
        at = b
      }
    }
    roots.values.foreach(r => place(r, r.startNs, r.endNs))
    def len(id: Long) = placed(id)._2 - placed(id)._1
    spans.filter(s => placed.contains(s.id)).map { s =>
      val cover = children.getOrElse(s.id, Seq.empty).map(c => len(c.id)).sum
      val name = if (roots.get(s.op).contains(s)) "bench.other" else s.name
      (s.op, name, (len(s.id) - cover) / 1e6)
    }
  }

  def write(out: Path, ops: Seq[OpRec]): Unit = {
    val ids = ops.map(_.id).toSet
    val w = Main.json.writer
    Files.write(out.resolve("ops.jsonl"), ops.map(o => w.writeValueAsString(
      Map[String, Any]("op" -> o.id, "class" -> o.cls, "ms" -> o.ms,
        "cpu_ms" -> o.cpuMs, "ok" -> o.ok).asJava)).asJava)
    if (Trace.on)
      Files.write(out.resolve("spans.jsonl"), Trace.spans.asScala.toSeq
        .filter(s => ids(s.op)).sortBy(_.startNs).map(s => w.writeValueAsString(
          Map[String, Any]("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
            .asJava)).asJava)
  }
}
