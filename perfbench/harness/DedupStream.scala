package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.exec.Concurrent
import graft.ext.{ClusterIndex, Dedup, DedupIndex}
import graft.streaming.IngestDedup

/** Continuous near-duplicate ingestion into the standing `DedupIndex` and
  * `ClusterIndex`, with takedowns.
  *
  * Each unit op lands one small micro-batch file and runs `IngestDedup`
  * with an `AvailableNow` trigger until it terminates: small batches,
  * so the fixed per-batch job floor dominates. After each batch a
  * takedown (the maintenance op) withdraws seed-chosen tracked cluster
  * nodes from both indexes, overlapped through `Concurrent`, and retires
  * the tombstones with `compactPartial`; after every second one
  * `ClusterIndex.compact` consolidates the cluster chains.
  *
  * Documents follow the `documents` statistics of the input profile:
  * word frequencies, words per document, languages, and the fixture's
  * own near-duplicates (an earlier document plus a marker word, in a
  * language of its own) at the measured share. On top of those, each
  * batch injects same-language exact and word-edited copies at a fixed
  * share, so every batch feeds the cluster path. */
final class DedupStream(spark: SparkSession, seed: Long, profile: Profile) extends Workload {
  import DedupStream._

  private val rng = new scala.util.Random(seed)
  private val word = new Sampler(profile.counts("documents.words"))
  private val length = new Sampler(profile.counts("documents.words_per_doc").map { case (n, c) => n.toInt -> c })
  private val lang = new Sampler(profile.counts("documents.lang"))
  private val marker = profile.str("documents.near_dup_marker")
  private val nearDupShare = profile.num("documents.near_dup_share")
  private val sameLangShare = profile.num("documents.near_dup_same_lang_share")
  /** Every document generated so far (base corpus and stream). */
  private val texts = mutable.ArrayBuffer[(Long, String, String)]()
  private val streamed = mutable.LinkedHashMap[Long, Long]() // doc id -> op id
  private val withdrawn = mutable.LinkedHashMap[Long, Long]() // doc id -> takedown op id
  private var dir = ""
  private var idx = ""
  private val batchS = mutable.ArrayBuffer[Double]()
  private var stats = Map.empty[String, Any]

  private def freshText(): String = Seq.fill(length(rng))(word(rng)).mkString(" ")

  /** A copy of `t` with a few words replaced: a near-duplicate. */
  private def edited(t: String): String = {
    val w = t.split(" ")
    (1 to 1 + rng.nextInt(2)).foreach(_ => w(rng.nextInt(w.length)) = word(rng))
    w.mkString(" ")
  }

  /** Documents that copy no other one: every near-duplicate copies one
    * of these, so clusters are stars and their shape does not vary with
    * the seed. */
  private val originals = mutable.ArrayBuffer[(String, String)]()

  private def add(lang: String, text: String): (Long, String, String) = {
    val doc = (texts.size.toLong, lang, text)
    texts += doc
    doc
  }

  /** A new document as the fixture makes them: an original, or at the
    * measured share a marked near-duplicate of an earlier original. */
  private def fresh(): (Long, String, String) =
    if (originals.nonEmpty && rng.nextDouble() < nearDupShare) {
      val (l, t) = originals(rng.nextInt(originals.size))
      val dupLang =
        if (rng.nextDouble() < sameLangShare) l
        else Iterator.continually(lang(rng)).find(_ != l).get
      add(dupLang, s"$t $marker")
    } else {
      val o = (lang(rng), freshText())
      originals += o
      add(o._1, o._2)
    }

  /** One micro-batch: `BatchDocs` documents, of which one is an exact
    * copy and `NearDups` are edited copies of earlier originals. */
  private def batch(): Seq[(Long, String, String)] = {
    def copy(f: String => String) = {
      val (l, t) = originals(rng.nextInt(originals.size))
      add(l, f(t))
    }
    Seq(copy(identity)) ++ Seq.fill(NearDups)(copy(edited)) ++
      Seq.fill(BatchDocs - 1 - NearDups)(fresh())
  }

  private def frame(docs: Seq[(Long, String, String)]): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "lang", "text")

  def setup(d: String): Unit = {
    dir = d
    idx = "pb_idx_" + new java.io.File(d).getName
    val base = Seq.fill(BaseDocs)(fresh())
    DedupIndex.write(frame(base), "text", "doc_id", "lang", idx, Threshold)
  }

  private def cc = s"$dir/cc"

  // A batch costs ~9 s and a takedown ~4 s on 4 cores, and a run must
  // fit the comparison's time budget. A period is two batches, each with
  // its takedown, so the timed loop's `op_p50_s` and `maint_p50_s` are
  // medians of two; the cluster compaction follows the first, so step 0
  // runs every kind of op (the warm-up runs one step).
  def period: Int = 2

  def step(i: Int, rec: Recorder): Unit = {
    val docs = batch()
    val id = rec.nextId
    docs.foreach(d => streamed(d._1) = id)
    rec("op", docs.size) {
      frame(docs).coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = IngestDedup.run(
          spark.readStream.schema(DocSchema).parquet(s"$dir/in"),
          base = idx, textCol = "text", idCol = "doc_id", blockCol = "lang",
          threshold = Threshold, verdictPath = s"$dir/verdicts",
          checkpoint = s"$dir/ckpt", updateIndex = true, clusterBase = cc)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Option(q.lastProgress).flatMap(p => Option(p.durationMs.get("addBatch")))
        .foreach(ms => batchS += ms.longValue / 1000.0)
    }
    takedown(rec)
    if (i % period == 0) rec("compact", 0) {
      Trace.span("ext.cluster_index.compact") { ClusterIndex.compact(spark, cc) }
    }
  }

  /** Withdraws seed-chosen tracked cluster nodes from both indexes. */
  private def takedown(rec: Recorder): Unit = {
    // the request: seed-chosen tracked nodes (choosing them is the
    // client's work, outside the timed op)
    val tracked = ClusterIndex.current(spark, cc).select("id").collect()
      .map(_.getLong(0)).filterNot(withdrawn.contains).sorted
    val ids = rng.shuffle(tracked.toSeq).take(TakedownIds)
    if (ids.nonEmpty) {
      val tid = rec.nextId
      ids.foreach(withdrawn(_) = tid)
      val idsDf = spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")
      rec("maint", 0) {
        Concurrent.labeled(Seq(
          "perfbench: dedup delete" -> (() => Trace.span("ext.dedup_index.delete") {
            DedupIndex.delete(spark, idx, idsDf, "doc_id")
          }),
          "perfbench: cluster withdraw" -> (() => Trace.span("ext.cluster_index.withdraw") {
            ClusterIndex.withdraw(spark, cc, idsDf, ClusterIndex.nextBatchId(spark, cc))
          })))
        Trace.span("ext.dedup_index.compact_partial") { DedupIndex.compactPartial(spark, idx) }
      }
    }
  }

  def check(): Seq[Check] = {
    import spark.implicits._
    val verdicts = spark.read.parquet(s"$dir/verdicts")
      .groupBy("doc_id").agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    val badVerdicts = streamed.toSeq.filter { case (d, _) => !verdicts.get(d).contains(1L) }
    val extra = verdicts.keySet -- streamed.keySet
    // no withdrawn id may stay live in the corpus tables once its
    // takedown's compaction has run
    val live = Seq(DedupIndex.exactTable(idx), DedupIndex.shTable(idx)).flatMap { t =>
      spark.table(t).filter(col("id").isin(withdrawn.keys.toSeq: _*)).select("id")
        .as[Long].collect()
    }.distinct
    val liveClusters = ClusterIndex.current(spark, cc)
      .filter(col("id").isin(withdrawn.keys.toSeq: _*)).count()
    // the standing labels must equal min-id components recomputed from
    // scratch over the live edge set
    val current = ClusterIndex.current(spark, cc)
    val fromScratch = Dedup.clusters(current.select("id"),
      ClusterIndex.liveEdges(spark, cc).select(col("a").as("id_a"), col("b").as("id_b")))
    val ccDiff = current.join(fromScratch, Seq("id"), "full_outer")
      .filter(not(col("cid") <=> col("cluster"))).count()
    val pending = DedupIndex.pendingTombstones(spark, idx)
    val dups = spark.read.parquet(s"$dir/verdicts").filter(!col("keep")).count()
    stats = Map("streaming.ingest.dup_frac" -> dups.toDouble / math.max(streamed.size, 1),
      "streaming.batch_s" -> (if (batchS.isEmpty) 0.0 else batchS.sum / batchS.size))
    Seq(
      Check("dedup_stream.every streamed document has exactly one verdict",
        badVerdicts.isEmpty && extra.isEmpty,
        s"${badVerdicts.size} missing or repeated, ${extra.size} unexpected",
        badVerdicts.map(_._2).distinct),
      Check("dedup_stream.no withdrawn id is live after its compaction",
        live.isEmpty && liveClusters == 0 && pending == 0,
        s"${live.size} live in the corpus tables, $liveClusters in the clusters, $pending tombstones pending",
        live.flatMap(withdrawn.get).distinct),
      Check("dedup_stream.ClusterIndex.current equals Dedup.clusters over liveEdges",
        ccDiff == 0, s"$ccDiff ids differ"))
  }

  override def report(rec: Recorder): Map[String, Any] = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq(DedupIndex.exactTable(idx), DedupIndex.prefTable(idx),
      DedupIndex.shTable(idx), DedupIndex.bandTable(idx)).map { t =>
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
      val s = fs.getContentSummary(loc)
      (s.getFileCount, s.getLength)
    }
    val liveDocs = texts.size - withdrawn.size
    stats ++ Map(
      "ext.dedup_index.files" -> files.map(_._1).sum,
      "ext.dedup_index.bytes_per_live_doc" -> files.map(_._2).sum.toDouble / math.max(liveDocs, 1),
      "input.words_per_doc" -> texts.map(_._3.split(" ").length).sum.toDouble / texts.size,
      "input.lang_en_share" -> texts.count(_._2 == "en").toDouble / texts.size,
      "input.marked_near_dup_share" -> texts.count(_._3.endsWith(s" $marker")).toDouble / texts.size,
      "input.base_docs" -> BaseDocs, "input.docs_per_op" -> BatchDocs,
      "input.exact_dups_per_op" -> 1, "input.near_dups_per_op" -> NearDups, "input.takedown_ids" -> TakedownIds)
  }
}

object DedupStream {
  val BaseDocs = 600
  val BatchDocs = 20
  val NearDups = 5
  val Threshold = 0.5
  val TakedownIds = 6

  val DocSchema: StructType = StructType.fromDDL("doc_id BIGINT, lang STRING, text STRING")
}
