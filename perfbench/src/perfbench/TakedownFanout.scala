package perfbench

import org.apache.spark.sql.functions.col

import graft.pipeline.{AnnIndex, IncrementalDedup, Search, Takedown}
import graft.sources.VersionedTable

final case class TDoc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)
final case class TEmb(vec_id: Long, embedding: Seq[Float], label: Int)
final case class TBase(doc_id: Long, user_id: Long, source: String,
    n_chars: Long, bucket: String)

/** A corpus shaped like the sf0.01 documents/embeddings fixture:
  * [[TakedownGen.Docs]] documents of 20–60 space-separated words,
  * [[TakedownGen.Vecs]] 64-dimensional embeddings keyed by the first doc
  * ids, and a versioned base table with one row per document.
  */
final case class TakedownGen(seed: Long, inst: Int) {
  import TakedownGen._
  val salt: Long = seed * 43 + inst
  def words(id: Long): Seq[String] =
    (0 until 20 + Rand.below(salt, 1, id, 41).toInt)
      .map(w => "w" + Rand.below(salt, 2, id * 64 + w, Vocab))
  def text(id: Long): String = words(id).mkString(" ")
  def source(id: Long): String = Sources(Rand.below(salt, 3, id, Sources.size).toInt)
  def doc(id: Long): TDoc = {
    val t = text(id)
    TDoc(id, t, if (id % 5 == 0) "de" else "en", source(id), t.length.toLong)
  }
  def emb(id: Long): TEmb = TEmb(id,
    (0 until 64).map(d => (Rand.between(salt, 4, id * 64 + d, -1, 1)).toFloat),
    Rand.below(salt, 5, id, 10).toInt)
  def user(id: Long): Long = Rand.below(salt, 6, id, 1000)
  def bucket(id: Long): String = s"b${id % 8}"
  def base(id: Long): TBase =
    TBase(id, user(id), source(id), text(id).length.toLong, bucket(id))
  def baseHash(id: Long): Long = new RowHash().long(id).long(user(id))
    .str(source(id)).long(text(id).length.toLong).str(bucket(id)).value

  /** Takedown order: every document at most once, in a seeded order. */
  lazy val docOrder: Array[Long] =
    Array.range(0, Docs).map(_.toLong).sortBy(d => Rand.at(salt, 7, d))
}

object TakedownGen {
  val Docs = 500
  val Vecs = 500
  val Vocab = 3000L
  val Batch = 4
  val Sources: Seq[String] = Seq("web", "books", "code", "news")
}

/** Expected row count of every artifact a takedown reports, and the base
  * table checksum, from the generated corpus.
  */
final class TakedownModel(g: TakedownGen) {
  import TakedownGen._
  private val postings = Array.tabulate(Docs)(i => g.words(i.toLong).distinct.size)
  private val lengths = Array.tabulate(Docs)(i => g.words(i.toLong).size)
  private val hashes = Array.tabulate(Docs)(i => g.baseHash(i.toLong))
  private val alive = { val b = new java.util.BitSet(Docs); b.set(0, Docs); b }
  var checksum: Long = hashes.foldLeft(0L)(_ ^ _)

  private def live: Seq[Int] = (0 until Docs).filter(alive.get)
  def docs: Long = alive.cardinality().toLong

  /** Expected `after_v` (or `before_v`) per report artifact. */
  def artifacts: Map[String, Long] = {
    val l = live
    Map(
      "ann/codes" -> l.count(_ < Vecs).toLong,
      "bm25/postings" -> l.map(postings(_).toLong).sum,
      "bm25/doclens" -> l.size.toLong,
      "bm25/stats_n_docs" -> l.size.toLong,
      "bm25/stats_sum_dl" -> l.map(lengths(_).toLong).sum,
      "minhash/signatures" -> l.size.toLong,
      "minhash/buckets" -> 16L * l.size,
      "versioned/rows" -> l.size.toLong)
  }

  def rows: Long = artifacts.values.sum

  def apply(ids: Seq[Long], skipOne: Boolean): Long = {
    val gone = if (skipOne) ids.drop(1) else ids
    gone.foreach { id =>
      if (alive.get(id.toInt)) { alive.clear(id.toInt); checksum ^= hashes(id.toInt) }
    }
    gone.size.toLong
  }
}

/** `takedown_fanout`: one [[Takedown.propagate]] per op, a seeded batch
  * of [[TakedownGen.Batch]] document ids carried through the BM25 index,
  * the IVF-PQ ANN store, the MinHash store and the versioned base table.
  * The run builds the four stores once ([[TakedownFanout.Sets]]) and
  * sends every request to them. With tracing on, every other op runs the
  * four stores' public deletes one at a time instead, each timed alone.
  */
object TakedownFanout extends Workload {
  val name = "takedown_fanout"
  val BaseCols = Seq("doc_id", "user_id", "source", "n_chars", "bucket")
  val WarmupOps = 1
  /** Store sets a run builds: one, as building the four stores takes
    * several seconds, so `setup_s` is a single set-up here.
    */
  val Sets = 1

  final class Inst(val i: Int, val gen: TakedownGen, val root: String) {
    /** Built on first use, outside the timed set-up. */
    lazy val model = new TakedownModel(gen)
    var j = 0
    val bm25 = s"$root/bm25"
    val ann = s"$root/ann"
    val minhash = s"$root/minhash"
    val base = s"$root/base"
    def stores: Takedown.StoreSet = Takedown.StoreSet(bm25 = Some(bm25),
      ann = Some(ann), minhash = Some(minhash),
      versioned = Some(Takedown.VersionedRef(base, "bucket")))
  }

  def digest(seed: Long): String =
    (0 until Sets).map { i =>
      val g = TakedownGen(seed, i)
      val m = new TakedownModel(g)
      s"${m.rows}:${m.checksum}:${g.docOrder.take(40).mkString(",").hashCode}:" +
        g.emb(7).embedding.mkString(",").hashCode
    }.mkString("|")

  private def setup(ctx: Ctx, i: Int): Inst = {
    val spark = ctx.spark
    import spark.implicits._
    val g = TakedownGen(ctx.seed, i)
    val inst = new Inst(i, g, ctx.dataDir(s"takedown_$i"))
    val ids = spark.range(0L, TakedownGen.Docs.toLong, 1L, ctx.cores).as[Long]
    val t = ctx.tracer
    val docs = ids.map(id => g.doc(id)).toDF().cache()
    t.span("bench.setup.bm25")(Search.buildIndex(docs, inst.bm25))
    t.span("bench.setup.minhash")(IncrementalDedup.buildStore(docs, inst.minhash))
    docs.unpersist()
    t.span("bench.setup.ann")(AnnIndex.buildStore(
      spark.range(0L, TakedownGen.Vecs.toLong, 1L, ctx.cores).as[Long]
        .map(id => g.emb(id)).toDF(), inst.ann, m = 8, iters = 1))
    t.span("bench.setup.base")(
      VersionedTable.create(ids.map(id => g.base(id)).toDF(), inst.base, "bucket"))
    inst
  }

  def run(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val insts = Harness.setUp(ctx, rec, Sets)(setup(ctx, _))
    val legs = Seq("pipeline.bm25_delete", "pipeline.ann_delete",
      "pipeline.minhash_delete", "pipeline.base_delete")
    Harness.loop(ctx, rec, WarmupOps) { k =>
      val inst = insts(k % insts.size)
      val from = inst.j * TakedownGen.Batch
      if (from + TakedownGen.Batch > TakedownGen.Docs) false
      else {
        val ids = inst.gen.docOrder.slice(from, from + TakedownGen.Batch).toSeq
        if (t.enabled && k % 2 == 1) legsOp(ctx, rec, inst, ids, k)
        else propagateOp(ctx, rec, inst, ids, k)
        inst.j += 1
        true
      }
    }
    if (t.enabled) {
      val legSum = legs.map(l => Stats.median(rec.times.getOrElse(l + ".s", Nil).toSeq)).sum
      val prop = Stats.median(rec.times.getOrElse("pipeline.propagate.s", Nil).toSeq)
      if (prop > 0) rec.count("pipeline.overlap_ratio", legSum / prop)
    }
  }

  private def roots(inst: Inst): Seq[String] = Seq(inst.root)

  /** The versioned base table against the model, or what differs. */
  private def baseMismatch(ctx: Ctx, inst: Inst): Option[String] = {
    val (n, sum) = ctx.tracer.span("bench.check")(Harness.countAndChecksum(
      VersionedTable.readLatest(ctx.spark, inst.base), BaseCols))
    if (n == inst.model.docs && sum == inst.model.checksum) None
    else Some(s"base table: engine ($n, $sum) vs model " +
      s"(${inst.model.docs}, ${inst.model.checksum})")
  }

  /** Live bytes: the versioned base's head files plus every visible file
    * of the three retrieval stores.
    */
  private def spaceAmp(ctx: Ctx, inst: Inst, snap: Snap): Double = {
    val live = Storage.fileBytes(VersionedTable.liveDataFiles(ctx.spark, inst.base)) +
      Seq(inst.bm25, inst.ann, inst.minhash).map(Harness.visibleBytes(snap, _)).sum
    snap.bytes.toDouble / math.max(1L, live)
  }

  private def propagateOp(ctx: Ctx, rec: Recorder, inst: Inst,
      ids: Seq[Long], k: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val vecIds = ids.filter(_ < TakedownGen.Vecs)
    val expectedBefore = inst.model.artifacts
    val rowsBefore = inst.model.rows
    val before = Storage.snap(roots(inst))
    t.op = k
    val (res, s) = Harness.timed(t.span("pipeline.propagate") {
      Takedown.propagate(spark, inst.stores, ids, vecIds, s"op${inst.i}_$k",
        basePred = Some(col("doc_id").isin(ids: _*))).collect().toSeq
    })
    t.op = -1
    val after = Storage.snap(roots(inst))
    rec.measured += s
    val deleted = inst.model.apply(ids, skipOne = k == ctx.wrongModelAt)
    rec.ops += s
    rec.rowsAtStart += rowsBefore
    rec.deletedRows += deleted
    rec.writtenBytes += after.written(before).map(_._2).sum
    val expectedAfter = inst.model.artifacts
    val report = res.fold(_ => Seq.empty, rows => rows.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))))
    val mismatches = expectedAfter.keys.toSeq.sorted.flatMap { a =>
      val want = (expectedBefore(a), expectedAfter(a), 0L)
      report.find(_._1 == a).map(_._2) match {
        case Some(got) if got == want => None
        case got => Some(s"$a: $got vs $want")
      }
    } ++ baseMismatch(ctx, inst)
    rec.check(res.isRight && mismatches.isEmpty,
      s"op $k takedown $ids on ${inst.root}: " +
        res.left.toOption.map(Harness.describe).getOrElse(mismatches.mkString("; ")))
    rec.spaceAmp += spaceAmp(ctx, inst, after)
    if (t.enabled) {
      rec.time("pipeline.propagate.s", s)
      rec.sparkOp(k, s)
    }
  }

  /** Traced runs only: the four stores' public deletes one at a time. */
  private def legsOp(ctx: Ctx, rec: Recorder, inst: Inst,
      ids: Seq[Long], k: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val vecIds = ids.filter(_ < TakedownGen.Vecs)
    val pred = col("doc_id").isin(ids: _*)
    t.op = k
    val (res, s) = Harness.timed {
      t.span("pipeline.bm25_delete")(
        Search.deleteFromIndex(spark, inst.bm25, ids, s"legs${inst.i}_$k"))
      t.span("pipeline.ann_delete")(AnnIndex.deleteFromStore(spark, inst.ann, vecIds))
      t.span("pipeline.minhash_delete")(
        IncrementalDedup.deleteFromStore(spark, inst.minhash, ids))
      t.span("pipeline.base_delete") {
        VersionedTable.delete(spark, inst.base, "bucket", pred)
        VersionedTable.vacuum(spark, inst.base, retainLast = 1)
      }
    }
    t.op = -1
    rec.measured += s
    inst.model.apply(ids, skipOne = k == ctx.wrongModelAt)
    rec.spanSeconds(k).foreach { case (n, sec) => rec.time(n + ".s", sec) }
    val hits = t.span("bench.check") {
      Takedown.accessReport(spark, inst.stores, ids, vecIds, Some(pred))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
    val mismatches = hits.filter(_._2 != 0L).map(h => s"${h._1}: ${h._2} hits") ++
      baseMismatch(ctx, inst)
    rec.check(res.isRight && mismatches.isEmpty,
      s"op $k store deletes $ids on ${inst.root}: " +
        res.left.toOption.map(Harness.describe).getOrElse(mismatches.mkString("; ")))
  }
}
