package graft.perfbench

import graft.table.{DataFileEntry, GraftTable}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One workload of the benchmark: a seeded input set, a set-up that builds
  * the starting tables from it, and a closed loop of operations over them.
  */
trait Workload {
  /** Operation classes of the loop; every run samples each of them at
    * least `Main.MinSamples` times.
    */
  def classes: Seq[String]

  /** Metric names that pool several classes, with the unit (`ms` or `s`)
    * they print in.
    */
  def pooled: Seq[(String, Seq[String], String)]

  /** Builds the starting tables under `dir` from the generated inputs,
    * handed to graft as in-memory DataFrames: the timed set-up. Each call
    * starts from scratch, schedule included; the loop runs on the last one
    * built.
    */
  def setup(dir: Path): Unit

  /** Draws the keys, ranges and order of the loop's operations; the
    * generated inputs come from a generator of their own. The warm-up and
    * the measured loop each get a stream of their own, both fixed by the
    * seed, so the measured operations never depend on how far the warm-up
    * got.
    */
  var rnd: Random = new Random(0)

  /** Runs the next operation (or operations) of the seeded schedule. */
  def step(rec: Recorder): Unit

  /** Locations of the graft tables the workload reads and writes. */
  def tables: Seq[String]

  /** Workload-specific metrics over the measured operations: (name,
    * value, unit, samples).
    */
  def extra(ops: Seq[OpRec]): Seq[(String, Double, String, Long)] = Seq.empty

  /** Stops whatever the workload started (called once, at the end). */
  def close(): Unit = ()
}

object Workload {
  def byName(name: String, spark: SparkSession, seed: Long): Workload =
    name match {
      case "ingest_mutate" => new IngestMutate(spark, seed)
      case "curate" => new Curate(spark, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (ingest_mutate, curate)")
    }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType)
      : DataFrame = spark.createDataFrame(rows.asJava, schema)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** Live data and delete files of a table, read directly. */
  def live(spark: SparkSession, loc: String): Seq[DataFileEntry] =
    GraftTable.load(spark, loc).liveEntries()

  /** Table directory bytes over the bytes of its live rows written once as
    * plain parquet.
    */
  def storageAmp(spark: SparkSession, locs: Seq[String], scratch: Path)
      : Double = {
    val table = locs.map(l => dirBytes(java.nio.file.Paths.get(l))).sum
    val plain = locs.zipWithIndex.map { case (l, i) =>
      val out = scratch.resolve(s"plain-$i")
      GraftTable.load(spark, l).scan().write.parquet(out.toString)
      dirBytes(out)
    }.sum
    table.toDouble / math.max(1L, plain)
  }

  /** Trace-only table inspection: what changed in the live file set since
    * the last look. Reads metadata directly, never through the probed
    * handle, so it adds nothing to the layer counts.
    */
  final class Inspector(spark: SparkSession, loc: String) {
    private def snapshot(): (Map[String, Long], Int) = {
      val es = live(spark, loc)
      (es.map(e => e.path -> e.fileSize).toMap, es.count(_.content == 0))
    }
    private var last = snapshot()._1

    /** (files added, bytes added, live data files) since the last call;
      * added files count data and delete files alike.
      */
    def diff(): (Int, Long, Int) = {
      val (now, dataFiles) = snapshot()
      val added = (now.keySet -- last.keySet).toSeq
      last = now
      (added.size, added.map(now).sum, dataFiles)
    }
  }
}
