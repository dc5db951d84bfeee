package graft.perfbench

import graft.model.TIdentity
import graft.operators.{Curation, Dedup, Similarity}
import graft.table.{FileMetadataIo, GraftTable}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.Random

/** One generated corpus document. */
final case class Doc(id: Long, batch: Int, text: String, source: String,
    lang: String, emb: Array[Float]) {
  def row: Row = Row(id, batch, text, source, lang, emb.toSeq)
}

/** curate: an LLM-data curation pipeline over a corpus table with the
  * shape of the sf0.1 `documents` and `embeddings` tables and planted
  * exact and near duplicates (perfbench/README.md, "Input shape"). Each
  * pass takes one batch of the corpus through exact dedup, MinHash
  * near-dup pairs, connected components, a repetition-quality filter, IVF
  * top-k over the batch's embeddings, and an append of the curated rows.
  * `graft.operators` and Spark shuffles do the work and table metadata
  * almost none, so this workload is the one that planning and commit
  * changes should leave unchanged.
  */
final class Curate(spark: SparkSession, seed: Long) extends Workload {
  import Curate._

  val classes = Seq("exact_dedup", "minhash", "components", "quality",
    "ann_topk", "curated_append")
  val pooled = Seq.empty

  private val gen = new Random(seed)
  // planted near duplicate -> the document it was copied from
  private val plantedFrom = mutable.Map[Long, Long]()
  private val docs: IndexedSeq[Doc] = (0 until Batches).flatMap(genBatch)
  private val byBatch = docs.groupBy(_.batch)
  private val rows = docs.map(_.row)

  private var corpus: GraftTable = _
  private var curated: GraftTable = _
  private var curatedRows = 0L
  private val recalls = mutable.ArrayBuffer[Double]()
  private val nearDup = mutable.ArrayBuffer[(Int, Int)]() // (found, planted)

  def tables: Seq[String] = Seq(corpus.location, curated.location)

  private def words(n: Int): Seq[String] =
    Seq.fill(n)(Vocab(gen.nextInt(Vocab.size)))

  /** `v` scaled to unit length: for a Gaussian `v`, a point drawn evenly
    * from the unit sphere.
    */
  private def unitVec(v: Array[Double]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  private def fresh(id: Long, b: Int, text: String): Doc =
    Doc(id, b, text, s"src${gen.nextInt(Sources)}", lang(),
      unitVec(Array.fill(Dims)(gen.nextGaussian())))

  private def lang(): String = {
    val x = gen.nextDouble()
    Langs.find(_._2 > x).map(_._1).getOrElse(Langs.last._1)
  }

  /** A batch of documents. Copies (exact and near) are made only of
    * original documents of the same batch, so near-duplicate components are stars
    * around their original and `connectedComponents` needs the same few
    * rounds for every seed.
    */
  private def genBatch(b: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer[Doc]()
    val originals = mutable.ArrayBuffer[Doc]()
    (0 until PerBatch).foreach { i =>
      val id = b.toLong * PerBatch + i
      val r = gen.nextDouble()
      def original = originals(gen.nextInt(originals.size))
      out += (if (originals.nonEmpty && r < ExactCopies) {
        val d = original
        d.copy(id = id, source = s"src${gen.nextInt(Sources)}", lang = lang())
      } else if (originals.nonEmpty && r < ExactCopies + NearCopies) {
        // as in the sf0.1 documents: the original with one word appended
        val d = original
        plantedFrom(id) = d.id
        d.copy(id = id, text = d.text + " " + words(1).head,
          source = s"src${gen.nextInt(Sources)}", lang = lang(),
          emb = unitVec(d.emb.map(x => x + gen.nextGaussian() * 0.01)))
      } else if (r < ExactCopies + NearCopies + Repetitive) {
        val phrase = words(5)
        fresh(id, b, Seq.fill(MinWords / 5 + gen.nextInt(
          (MaxWords - MinWords) / 5 + 1))(phrase).flatten.mkString(" "))
      } else {
        val d = fresh(id, b, words(MinWords + gen.nextInt(
          MaxWords - MinWords + 1)).mkString(" "))
        originals += d
        d
      })
    }
    out.toSeq
  }

  def setup(dir: Path): Unit = {
    val c = GraftTable.create(spark, dir.resolve("corpus").toString, schema,
      partitionBy = Seq(("batch", TIdentity, "batch_p")))
    c.append(Workload.frame(spark, rows, schema), repartitionByPartition = true)
    val o = GraftTable.create(spark, dir.resolve("curated").toString,
      curatedSchema)
    corpus = GraftTable.load(spark, c.location, new ProbeIo(FileMetadataIo, false))
    curated = GraftTable.load(spark, o.location, new ProbeIo(FileMetadataIo, false))
    curatedRows = 0L
    stages = Iterator.empty
    recalls.clear()
    nearDup.clear()
  }

  private var stages: Iterator[() => Boolean] = Iterator.empty

  /** Runs the next stage of the current pass, starting a pass over a
    * seeded batch when the last one is done. A failed stage ends its pass:
    * later stages have no input. It still counts as attempted and failed.
    */
  def step(rec: Recorder): Unit = {
    if (!stages.hasNext) stages = newPass(rec)
    if (!stages.next()()) stages = Iterator.empty
  }

  /** The stages of one pass over a seeded batch, in order; each returns
    * whether the pass goes on.
    */
  private def newPass(rec: Recorder): Iterator[() => Boolean] = {
    val b = rnd.nextInt(Batches)
    val batch = byBatch(b)
    val text = batch.map(d => d.id -> d.text).toMap

    // exact dedup: the lowest id of each distinct text survives
    val wantKept = batch.groupBy(_.text).values.map(_.map(_.id).min).toSet
    var kept: DataFrame = null
    var pairs: DataFrame = null
    var edges = Array.empty[(Long, Long)]
    var labels: DataFrame = null
    var good: DataFrame = null
    var wantQuality = Seq.empty[(Long, Double, Double)]

    def exactDedup() = rec.op("exact_dedup") {
      val in = Trace.span("table.plan")(corpus.scan(Some(col("batch") === b)))
      val w = Window.partitionBy("text").orderBy("doc_id")
      kept = Trace.span("operators.exact_dedup")(in
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__rn").localCheckpoint())
      kept.select("doc_id").collect().map(_.getLong(0)).toSet
    } { got =>
      if (Trace.on) {
        Trace.countFor(rec.lastOp, "table.files_planned",
          corpus.planFiles(Some(col("batch") === b)).size)
        Trace.countFor(rec.lastOp, "table.files_live",
          Workload.live(spark, corpus.location).count(_.content == 0))
      }
      Check.expect(got == wantKept,
        s"exact dedup kept ${got.size} docs, want ${wantKept.size}")
    }

    def minhash() = rec.op("minhash") {
      pairs = Trace.span("operators.minhash")(
        Dedup.minhashPairs(kept, "doc_id", "text"))
      pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    } { got =>
      got.foreach { case (a, bb, jac) =>
        Check.expect(a < bb && wantKept(a) && wantKept(bb), s"bad pair ($a, $bb)")
        val want = round4(jaccard(text(a), text(bb)))
        Check.expect(math.abs(jac - want) <= 1.5e-4 && jac >= Tau,
          s"pair ($a, $bb) jaccard $jac, want $want")
      }
      if (Trace.on) Trace.countFor(rec.lastOp, "operators.candidate_pairs", got.length)
      // planted pairs similar enough that MinHash should find them
      val planted = batch.flatMap(d => plantedFrom.get(d.id).map(s => (s, d.id)))
        .filter { case (s, d) => wantKept(s) && wantKept(d) &&
          jaccard(text(s), text(d)) >= 0.8 }
      val found = got.map(p => (p._1, p._2)).toSet
      nearDup += ((planted.count(found), planted.size))
      edges = got.map(p => (p._1, p._2))
    }

    def components() = rec.op("components") {
      labels = Trace.span("operators.components")(
        Dedup.connectedComponents(pairs.select("doc_a", "doc_b")))
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } { got =>
      val want = Curate.components(edges.toSeq)
      Check.expect(got == want, s"components: ${got.size} labelled, want ${want.size}")
      val dropped = want.collect { case (id, l) if id != l => id }.toSet
      wantQuality = wantKept.diff(dropped).toSeq.map { id =>
        val (t, g) = repetition(text(id)); (id, t, g)
      }.filter(_._3 <= MaxDup3gramFrac).sortBy(_._1)
    }

    def quality() = rec.op("quality") {
      val survivors = kept.join(labels.filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      good = Trace.span("operators.quality")(Curation
        .withRepetitionFracs(survivors, col("text"))
        .filter(col("dup_3gram_frac") <= MaxDup3gramFrac).localCheckpoint())
      good.select("doc_id", "dup_token_frac", "dup_3gram_frac").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    } { got =>
      Check.expect(got.map(_._1) == wantQuality.map(_._1),
        s"quality kept ${got.size} docs, want ${wantQuality.size}")
      got.zip(wantQuality).foreach { case (g, w) =>
        Check.expect(math.abs(g._2 - w._2) < 1e-12 && math.abs(g._3 - w._3) < 1e-12,
          s"doc ${g._1} repetition $g, want $w")
      }
      if (Trace.on) Trace.countFor(rec.lastOp, "operators.dup_frac",
        1.0 - got.size.toDouble / batch.size)
    }

    def annTopK() = {
      val keptDocs = batch.filter(d => wantKept(d.id)).toIndexedSeq
      val qs = rnd.shuffle(keptDocs).take(Queries)
      val exact = qs.map(q => q.id -> keptDocs.filter(_.id != q.id)
        .map(d => (d.id, cosine(q.emb, d.emb))).sortBy(x => (-x._2, x._1))
        .take(K).map(_._1).toSet).toMap
      rec.op("ann_topk") {
        val qdf = kept.filter(col("doc_id").isin(qs.map(_.id): _*))
          .select(col("doc_id").as("q_id"), col("emb").as("q_emb"))
        Trace.span("operators.ann_topk")(Similarity.annTopKIvf(kept, qdf,
          "doc_id", "emb", "q_id", "q_emb", K, cells = Cells, nprobe = Probes,
          cellCap = PerBatch).collect())
      } { rows =>
        val emb = keptDocs.map(d => d.id -> d.emb).toMap
        val byQ = rows.groupBy(_.getAs[Long]("q_id"))
        byQ.foreach { case (q, rs) =>
          val sorted = rs.sortBy(_.getAs[Long]("rank"))
          Check.expect(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length),
            s"query $q ranks ${sorted.map(_.getAs[Long]("rank")).toSeq}")
          Check.expect(rs.length <= K, s"query $q returned ${rs.length} > $K")
          sorted.foreach { r =>
            val n = r.getAs[Long]("neighbor_id")
            val want = round4(cosine(emb(q), emb(n)))
            Check.expect(n != q && math.abs(r.getAs[Double]("sim") - want) <= 1.5e-4,
              s"query $q neighbour $n sim ${r.getAs[Double]("sim")}, want $want")
          }
        }
        recalls ++= qs.map(q => byQ.getOrElse(q.id, Array.empty[Row])
          .count(r => exact(q.id)(r.getAs[Long]("neighbor_id"))).toDouble / K)
      }
    }

    def curatedAppend() = {
      val add = wantQuality.size
      val ok = rec.op("curated_append") {
        Trace.span("table.write")(curated.append(good.select(
          col("doc_id"), col("batch"), col("text"), col("dup_token_frac"),
          col("dup_3gram_frac"))))
      } { _ =>
        val n = GraftTable.load(spark, curated.location).countRows()
        Check.expect(n == curatedRows + add, s"curated table holds $n rows, " +
          s"want ${curatedRows + add}")
      }
      if (ok) curatedRows += add
      ok
    }

    Iterator(exactDedup _, minhash _, components _, quality _, annTopK _,
      curatedAppend _)
  }

  override def extra(ops: Seq[OpRec]): Seq[(String, Double, String, Long)] = {
    // a full pass at each stage's median time: independent of where in a
    // pass the run stopped
    val passMs = classes.map(c => ops.filter(o => o.cls == c && o.ok).map(_.ms))
      .filter(_.nonEmpty).map(Stats.median).sum
    val (found, planted) = (nearDup.map(_._1).sum, nearDup.map(_._2).sum)
    Seq(
      ("curate_docs_per_s", PerBatch / math.max(passMs / 1000.0, 1e-9), "1/s",
        ops.count(_.cls == "exact_dedup").toLong * PerBatch),
      ("ann_recall", Stats.mean(recalls.toSeq), "ratio", recalls.size.toLong),
      ("neardup_recall", found.toDouble / math.max(1, planted), "ratio", planted.toLong))
  }
}

object Curate {
  val Batches = 8
  val PerBatch = 250
  // document shape: that of the sf0.1 documents table
  val MinWords = 10
  val MaxWords = 100
  val Sources = 20
  /** Language tags with their cumulative shares. */
  val Langs = Seq("en" -> 0.41, "fr" -> 0.56, "es" -> 0.71, "zh" -> 0.86,
    "de" -> 1.0)
  /** The sf0.1 documents' whole vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "dup", "fast", "filter", "group", "hash",
    "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  // shares of planted documents: exact and near copies at the sf0.1 rates;
  // repetitive documents (absent from sf0.1) give the quality filter work
  val ExactCopies = 0.002
  val NearCopies = 0.05
  val Repetitive = 0.02
  // embeddings: 64-dim unit vectors with no cluster structure, as in sf0.1
  val Dims = 64
  val Queries = 12
  val K = 10
  // the operator's own defaults for a batch: sqrt(PerBatch) cells, 4 probed
  val Cells = 16
  val Probes = 4
  val Tau = 0.5
  /** `Curation`'s own repetition rule: keep dup_3gram_frac <= 0.2. */
  val MaxDup3gramFrac = 0.2

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("batch", IntegerType),
    StructField("text", StringType), StructField("source", StringType),
    StructField("lang", StringType), StructField("emb", ArrayType(FloatType))))

  val curatedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("batch", IntegerType),
    StructField("text", StringType), StructField("dup_token_frac", DoubleType),
    StructField("dup_3gram_frac", DoubleType)))

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def shingles(t: String): Set[String] =
    t.split(" ").sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** (dup_token_frac, dup_3gram_frac) of already-normalised text. */
  def repetition(t: String): (Double, Double) = {
    val toks = t.split(" ")
    val grams = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
      else Seq.empty
    (1.0 - toks.distinct.length.toDouble / toks.length,
      if (grams.isEmpty) 0.0 else 1.0 - grams.distinct.size.toDouble / grams.size)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (ab, aa, bb) = (0.0, 0.0, 0.0)
    a.indices.foreach { i =>
      ab += a(i).toDouble * b(i); aa += a(i).toDouble * a(i); bb += b(i).toDouble * b(i)
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Union-find over `edges`: every node -> the lowest id of its component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }
}
