package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Preference, PreferenceIndex}

/** A preference arena over the standing `PreferenceIndex`.
  *
  * Each unit op appends one batch of tie-aware judgments with the batch
  * API and refreshes the leaderboard: `Preference.rkRatings` over the
  * index's live matrix and ties, sunk as Parquet. Every few ops the
  * maintenance op refreshes the bootstrap confidence intervals
  * (`rkBootstrapCi`); occasionally an item is withdrawn and the index
  * compacted. Small writes, many iterative fit jobs: a delta-chain index
  * used read-heavily. */
final class PrefLeaderboard(spark: SparkSession, seed: Long) extends Workload {
  import PrefLeaderboard._

  private val rng = new scala.util.Random(seed)
  private val items = (0 until Items).map(k => f"m$k%03d")
  /** Latent log-strengths of the generating Rao-Kupper model. */
  private val strength = items.map(_ -> rng.nextGaussian()).toMap
  private val live = mutable.LinkedHashSet[String](items: _*)
  /** Every generated judgment, as (a, b, outcome). */
  private val judged = mutable.ArrayBuffer[(String, String, String)]()
  private val withdrawn = mutable.LinkedHashSet[String]()
  private var dir = ""
  private var nextBatch = 0L
  private var lastBoard = -1L
  /** (judgments, withdrawn items) as of the last leaderboard. */
  private var boardState = (0, Set.empty[String])

  private def base = s"$dir/arena"

  private def batch(): Seq[(String, String, String)] = {
    val pool = live.toIndexedSeq
    Seq.fill(BatchJudgments) {
      val a = pool(rng.nextInt(pool.size))
      var b = a
      while (b == a) b = pool(rng.nextInt(pool.size))
      val ga = math.exp(strength(a))
      val gb = math.exp(strength(b))
      val pa = ga / (ga + Tie * gb)
      val pb = gb / (gb + Tie * ga)
      val x = rng.nextDouble()
      (a, b, if (x < pa) "a" else if (x < pa + pb) "b" else "tie")
    }
  }

  private def append(js: Seq[(String, String, String)]): Unit = {
    judged ++= js
    PreferenceIndex.appendJudgments(spark,
      base, spark.createDataFrame(js).toDF("a", "b", "outcome"), "a", "b", "outcome", nextBatch)
    nextBatch += 1
  }

  def setup(d: String): Unit = {
    dir = d
    (0 until SetupBatches).foreach(_ => append(batch()))
  }

  private def board(): DataFrame =
    Preference.rkRatings(PreferenceIndex.matrix(spark, base), PreferenceIndex.ties(spark, base), Iters)

  def period: Int = CiEvery

  def step(i: Int, rec: Recorder): Unit = {
    val js = batch()
    val id = rec.nextId
    if (rec("op", js.size) {
      Trace.span("ext.pref_index.append") { append(js) }
      val b = Trace.span("ext.preference.fit") { board() }
      Trace.span("sink") { b.write.parquet(s"$dir/board/op=$id") }
    }) {
      lastBoard = id
      boardState = (judged.size, withdrawn.toSet)
    }
    if (i % CiEvery == CiEvery - 1) {
      val cid = rec.nextId
      rec("maint", 0) {
        val ci = Trace.span("ext.preference.ci") {
          Preference.rkBootstrapCi(PreferenceIndex.matrix(spark, base),
            PreferenceIndex.ties(spark, base), Iters, CiReps, 1, CiReps)
        }
        Trace.span("sink") { ci.write.parquet(s"$dir/ci/op=$cid") }
      }
    }
    if (i % CiEvery == CiEvery - 1 && live.size > Items / 2) {
      val item = live.toIndexedSeq(rng.nextInt(live.size))
      live -= item
      withdrawn += item
      rec("withdraw", 0) {
        Trace.span("ext.pref_index.withdraw") {
          PreferenceIndex.withdraw(spark, base,
            spark.createDataFrame(Seq(Tuple1(item))).toDF("item"), "item", nextBatch)
        }
        nextBatch += 1
        nextBatch = Trace.span("ext.pref_index.compact") { PreferenceIndex.compact(spark, base) } + 1
      }
    }
  }

  /** The last leaderboard must equal a from-scratch fit over the
    * surviving generated judgments, compared at the oracle's q6
    * quantisation. */
  def check(): Seq[Check] = {
    import spark.implicits._
    val (n, gone) = boardState
    val surviving = judged.take(n).filterNot { case (a, b, _) => gone(a) || gone(b) }
    val wins = surviving.collect {
      case (a, b, "a") => (a, b)
      case (a, b, "b") => (b, a)
    }.groupBy(identity).map { case ((w, l), xs) => (w, l, xs.size.toLong) }.toSeq
    val ties = surviving.collect { case (a, b, "tie") => if (a < b) (a, b) else (b, a) }
      .groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }.toSeq
    def q6(df: DataFrame): Set[String] =
      df.select(col("item"), col("n_wins"), col("n_ties"), col("n_comparisons"),
          graft.queries.Oracle.q6(col("gamma")).as("g"), graft.queries.Oracle.q6(col("theta")).as("t"))
        .collect().map(_.mkString(",")).toSet
    val want = q6(Preference.rkRatings(wins.toDF("winner", "loser", "n"),
      ties.toDF("a", "b", "n"), Iters))
    val got = if (lastBoard < 0) Set.empty[String] else q6(spark.read.parquet(s"$dir/board/op=$lastBoard"))
    Seq(Check("pref_leaderboard.last leaderboard equals a from-scratch rkRatings (q6)",
      want == got && want.nonEmpty, s"${(want -- got).size} expected rows missing, ${(got -- want).size} unexpected",
      Seq(lastBoard).filter(_ >= 0)))
  }

  override def report(rec: Recorder): Map[String, Any] = {
    val p = new org.apache.hadoop.fs.Path(base)
    Map("ext.pref_index.bytes_on_disk" ->
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength,
      "input.items" -> Items, "input.judgments_per_op" -> BatchJudgments,
      "input.setup_judgments" -> SetupBatches * BatchJudgments, "input.ci_reps" -> CiReps)
  }
}

object PrefLeaderboard {
  val Items = 40
  val BatchJudgments = 400
  val SetupBatches = 4
  val Tie = 1.5
  val Iters = 4
  val CiReps = 8
  /** A CI refresh, then a withdrawal and compaction, after every second op. */
  val CiEvery = 2
}
