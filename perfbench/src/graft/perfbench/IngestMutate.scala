package graft.perfbench

import graft.connector.rest.{GraftRestClient, GraftRestServer, RestMetadataIo}
import graft.model.{PartitionField, PartitionSpec, TMonth}
import graft.table.GraftTable
import java.nio.file.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.Random

/** ingest_mutate: a closed loop, half commits, on a month-partitioned
  * lineitem table opened through an in-process REST catalog (the
  * production catalog mode). Small appends favour recent months; DV and
  * copy-on-write deletes, updates and MERGE upserts touch small key sets;
  * every commit is followed by a read-your-writes point read, in turn
  * through `GraftTable.scan` and through SQL on a `GraftCatalog` in REST
  * mode (the DSv2 `GraftBatchScan` path); every `MaintEvery` commits
  * compaction and snapshot expiry run, followed by a full-table
  * aggregate. File count and history grow and shrink within the run, so a
  * write-side change that worsens the read layout shows in this
  * workload's own read metrics.
  */
final class IngestMutate(spark: SparkSession, seed: Long) extends Workload {
  import IngestMutate._

  val classes = Seq("append", "delete_dv", "delete_cow", "update", "merge",
    "point_scan", "point_sql", "maintenance", "scan_read")
  val pooled = Seq(
    ("append", Seq("append"), "ms"),
    ("mutation", Seq("delete_dv", "delete_cow", "update", "merge"), "s"),
    ("point_read", Seq("point_scan", "point_sql"), "ms"),
    ("scan_read", Seq("scan_read"), "s"))

  private val base = Lake.lineitem(new Random(seed), BaseOrders)
  private val baseRows = base.map(_.row)

  // the benchmark's own copy of the table: (orderkey, linenumber) -> line
  private val model = mutable.LinkedHashMap[(Long, Int), Line]()
  private var nextKey = 0L
  private var server: GraftRestServer = _
  private var t: GraftTable = _
  private var inspector: Workload.Inspector = _
  private var commits = 0
  private var sched: Iterator[String] = Iterator.empty
  private var catalog = ""
  private var builds = 0

  def tables: Seq[String] = Seq(t.location)

  def setup(dir: Path): Unit = {
    close()
    server = new GraftRestServer(dir.resolve("warehouse").toString)
    server.start()
    val client = new GraftRestClient(server.uri)
    client.createNamespace(Seq("db"))
    val schema = GraftTable.toIceSchema(Lake.lineSchema, 0)
    val spec = PartitionSpec(1, Seq(PartitionField(
      schema.fieldByName("l_shipdate").get.id, 1000, "ship_month", TMonth)))
    client.createTable(Seq("db"), "lineitem", schema, Some(spec), Map.empty)
    t = GraftTable.load(spark, dir.resolve("warehouse/db/lineitem").toString,
      new ProbeIo(new RestMetadataIo(client, Seq("db"), "lineitem"), true))
    t.append(Workload.frame(spark, baseRows, Lake.lineSchema),
      repartitionByPartition = true)
    model.clear()
    base.foreach(l => model((l.key, l.line)) = l)
    nextKey = BaseOrders + 1L
    commits = 0
    sched = Iterator.empty
    // a catalog per set-up: Spark keeps a catalog once it is first used
    builds += 1
    catalog = s"ingest$builds"
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.uri", server.uri)
    inspector = if (Trace.on) new Workload.Inspector(spark, t.location) else null
  }

  /** Stops the catalog service of the previous set-up, if any. */
  override def close(): Unit = if (server != null) { server.stop(); server = null }

  def step(rec: Recorder): Unit = {
    if (!sched.hasNext) sched = Block.iterator
    val kind = sched.next()
    val read = kind match {
      case "append" => append(rec)
      case "delete_dv" => delete(rec, "delete_dv", t.deleteWhereDv)
      case "delete_cow" => delete(rec, "delete_cow", t.deleteWhere)
      case "update" => update(rec)
      case "merge" => merge(rec)
    }
    pointRead(rec, read._1, read._2, sql = commits % 2 == 1)
    commits += 1
    if (commits % MaintEvery == 0) { maintenance(rec); scanRead(rec) }
  }

  private def month(m: Int): Column =
    col("l_shipdate") >= lit(java.sql.Date.valueOf(Lake.monthStart(m))) &&
      col("l_shipdate") < lit(java.sql.Date.valueOf(Lake.monthStart(m + 1)))

  /** Trace-only accounting of a commit: files and bytes it added, and for
    * mutations the bytes of the rows it deleted or changed (rows times the
    * table's mean bytes per row) as the base of `table.rewrite_amp`.
    */
  private def committed(opId: Long, rowsTouched: Int): Unit =
    if (Trace.on) {
      val (files, bytes, live) = inspector.diff()
      Trace.countFor(opId, "table.files_added", files)
      Trace.countFor(opId, "table.bytes_added", bytes)
      Trace.countFor(opId, "table.files_live", live)
      if (rowsTouched > 0) {
        val data = Workload.live(spark, t.location).filter(_.content == 0)
        val perRow = data.map(_.fileSize).sum.toDouble /
          math.max(1L, data.map(_.recordCount).sum)
        Trace.countFor(opId, "table.rewrite_bytes", bytes)
        Trace.countFor(opId, "table.mutated_bytes", rowsTouched * perRow)
      }
    }

  /** Recent months are favoured, as real ingest does. */
  private def ingestMonth(r: Random): Int = {
    val x = r.nextDouble()
    if (x < 0.6) Lake.Months - 1
    else if (x < 0.85) Lake.Months - 2
    else Lake.Months - 3 - r.nextInt(6)
  }

  private def append(rec: Recorder): (Long, Int) = {
    val ls = Lake.recentLines(rnd, nextKey, AppendRows, ingestMonth)
    nextKey = ls.map(_.key).max + 1
    val df = Workload.frame(spark, ls.map(_.row), Lake.lineSchema)
    if (rec.op("append")(Trace.span("table.write")(t.append(df)))(_ => ()))
      ls.foreach(l => model((l.key, l.line)) = l)
    committed(rec.lastOp, 0)
    (ls.head.key, ls.head.month)
  }

  /** `KeysPerMutation` distinct order keys with live lines shipped in the
    * last `RecentMonths` months: corrections and retractions of recent
    * ingest, the common shape of row-level changes to a fact table. Each
    * change names those months too, as such a change would, so graft can
    * prune it to their files.
    */
  private def liveKeys(): Seq[Long] = {
    val keys = model.valuesIterator.filter(recent).map(_.key)
      .toIndexedSeq.distinct
    rnd.shuffle(keys).take(KeysPerMutation)
  }

  private def recent(l: Line): Boolean = l.month >= Lake.Months - RecentMonths

  private val recentCol: Column = col("l_shipdate") >=
    lit(java.sql.Date.valueOf(Lake.monthStart(Lake.Months - RecentMonths)))

  /** The recent lines of `keys`: the rows a change of those keys touches. */
  private def linesOf(keys: Seq[Long]): Seq[Line] = {
    val ks = keys.toSet
    model.valuesIterator.filter(l => ks(l.key) && recent(l)).toSeq
  }

  private def changed(keys: Seq[Long]): Column =
    recentCol && col("l_orderkey").isin(keys: _*)

  private def delete(rec: Recorder, cls: String,
      del: Column => graft.model.SnapshotV2): (Long, Int) = {
    val keys = liveKeys()
    val gone = linesOf(keys)
    if (rec.op(cls)(Trace.span("table.mutate")(del(changed(keys))))(_ => ()))
      gone.foreach(l => model.remove((l.key, l.line)))
    committed(rec.lastOp, gone.size)
    (keys.head, gone.find(_.key == keys.head).get.month)
  }

  private def update(rec: Recorder): (Long, Int) = {
    val keys = liveKeys()
    val hit = linesOf(keys)
    if (rec.op("update")(Trace.span("table.mutate")(t.updateWhere(changed(keys),
        Map("l_quantity" -> (col("l_quantity") + 1))))) (_ => ()))
      hit.foreach(l => model((l.key, l.line)) = l.copy(qty = l.qty + 1))
    committed(rec.lastOp, hit.size)
    (keys.head, hit.find(_.key == keys.head).get.month)
  }

  /** Upsert: changed copies of recent lines plus lines of new orders. The
    * ship date is part of the merge key (a line's ship date never
    * changes), so the source's key range prunes the merge to recent files.
    */
  private def merge(rec: Recorder): (Long, Int) = {
    val changed = linesOf(liveKeys().take(MergeKeys))
      .map(l => l.copy(qty = l.qty + 2, cents = l.cents + 1))
    val fresh = Lake.recentLines(rnd, nextKey, MergeNewRows,
      r => Lake.Months - 1 - r.nextInt(RecentMonths))
    nextKey = fresh.map(_.key).max + 1
    val src = changed ++ fresh
    val df = Workload.frame(spark, src.map(_.row), Lake.lineSchema)
    if (rec.op("merge")(Trace.span("table.mutate")(t.mergeInto(df,
        Seq("l_orderkey", "l_linenumber", "l_shipdate"))))(_ => ()))
      src.foreach(l => model((l.key, l.line)) = l)
    committed(rec.lastOp, changed.size)
    (changed.head.key, changed.head.month)
  }

  /** Read-your-writes: the lines of a key the last commit touched, in one
    * month, must equal the benchmark's copy (none, after a delete).
    */
  private def pointRead(rec: Recorder, key: Long, m: Int, sql: Boolean): Unit = {
    val f = month(m) && col("l_orderkey") === key
    val want = model.valuesIterator.filter(l => l.key == key && l.month == m)
      .map(l => (l.line, l.qty.toDouble, l.price)).toSeq.sortBy(_._1)
    val q = s"SELECT l_linenumber, l_quantity, l_extendedprice " +
      s"FROM $catalog.db.lineitem WHERE l_shipdate >= DATE'${Lake.monthStart(m)}' " +
      s"AND l_shipdate < DATE'${Lake.monthStart(m + 1)}' AND l_orderkey = $key"
    rec.op(if (sql) "point_sql" else "point_scan") {
      val df =
        if (sql) Trace.span("connector.sql_plan") {
          val d = spark.sql(q); d.queryExecution.executedPlan; d
        }
        else Trace.span("table.plan")(t.scan(Some(f))
          .select("l_linenumber", "l_quantity", "l_extendedprice"))
      Trace.span("spark.exec")(df.collect())
    } { rows =>
      if (Trace.on) {
        Trace.countFor(rec.lastOp, "table.files_planned", t.planFiles(Some(f)).size)
        Trace.countFor(rec.lastOp, "table.files_live",
          Workload.live(spark, t.location).count(_.content == 0))
      }
      val got = rows.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      Check.expect(got == want, s"point read of key $key: got $got, want $want")
    }
  }

  private def maintenance(rec: Recorder): Unit = {
    rec.op("maintenance") {
      Trace.span("table.maint")(t.compactBinPack())
      Trace.span("table.maint")(t.expireSnapshots(keepLast = KeepSnapshots))
    }(_ => ())
    if (Trace.on)
      Trace.countFor(rec.lastOp, "table.maint_bytes", inspector.diff()._2)
  }

  /** Self-test hooks: one checked full scan, and a wrong expected value
    * planted in the benchmark's copy of the table.
    */
  private[perfbench] def checkedScan(rec: Recorder): Boolean = {
    scanRead(rec); rec.ops.last.ok
  }

  private[perfbench] def plantWrongExpectation(): Unit = {
    val (k, l) = model.head
    model(k) = l.copy(cents = l.cents + 1)
  }

  private def scanRead(rec: Recorder): Unit = {
    val ls = model.values.toSeq
    val want = (ls.size.toLong, ls.map(_.cents).sum, ls.map(_.qty.toLong).sum.toDouble)
    rec.op("scan_read") {
      val df = Trace.span("table.plan")(t.scan())
      Trace.span("spark.exec")(df.agg(count(lit(1)), Lake.centsSum,
        sum("l_quantity")).collect())
    } { rows =>
      val r = rows.head
      val got = (r.getLong(0), r.getLong(1), r.getDouble(2))
      Check.expect(got == want, s"full scan (count, cents, quantity): got $got, want $want")
    }
  }

  override def extra(ops: Seq[OpRec]): Seq[(String, Double, String, Long)] = {
    val m = ops.filter(_.cls == "maintenance")
    Seq(("maintenance_s", m.map(_.ms).sum / 1000.0, "s", m.size.toLong))
  }
}

object IngestMutate {
  val BaseOrders = 5000
  val AppendRows = 400
  val KeysPerMutation = 8
  val RecentMonths = 3
  val MergeKeys = 6
  val MergeNewRows = 40
  val MaintEvery = 5
  val KeepSnapshots = 4
  /** One block of commits, repeated. The order is fixed so that every seed
    * walks the table through the same shape of history (the seed picks the
    * rows and keys); a shuffled order made each run's table state, and so
    * its costs, differ far more than the operations themselves do.
    */
  val Block: Seq[String] = Seq("append", "delete_dv", "delete_cow", "update",
    "merge")
}
