package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl._
import graft.exec.Wrangle
import graft.functions.Registry
import graft.model.{Model, PipelineSpec}
import graft.sources.IO

/** The paper's own use case: nested order documents wrangled through a
  * multi-model spec, customers resolved against a dimension with
  * `getOrCreate`, all three results sunk as Parquet.
  *
  * Each unit op takes one slice of documents. Every few ops the
  * maintenance op folds the customers the last ops created into a new
  * dimension version (`Wrangle.newRecords`), so later ops probe a grown
  * dimension. `compile`, `exec`, `functions` and `sources` do the work;
  * `ext`, `streaming` and `Concurrent` stay idle.
  *
  * The documents are drawn from the orders, lineitem and customer
  * statistics of the input profile; the malformed values and the
  * customers missing from the dimension are the seed's injections (the
  * fixture tables have neither). */
final class WrangleEtl(spark: SparkSession, seed: Long, profile: Profile) extends Workload {
  import WrangleEtl._

  // java.util.Random's first draw barely moves between adjacent seeds;
  // mixing the seed first makes the shares below differ from seed to seed.
  private val rng = new scala.util.Random(scala.util.hashing.byteswap64(seed))
  /** Share of `order.total` and `props.score` values that are malformed,
    * and of line flags and customer segments that are empty. */
  val badShare: Double = 0.02 + 0.04 * rng.nextDouble()
  /** Share of customer keys missing from the initial dimension. */
  val missShare: Double = 0.05 + 0.15 * rng.nextDouble()

  private var dir = ""
  private var dimV = 0
  private var sliceBytes = Map.empty[Int, Long]
  private val opSlice = mutable.LinkedHashMap[Long, (Int, Int)]() // op -> (slice, dim version)
  private val upserts = mutable.ArrayBuffer[(Long, Int, Seq[Long])]() // (op, new version, folded ops)
  private val pending = mutable.ArrayBuffer[Long]()
  private var stats = Map.empty[String, Any]

  /** Uniform [0, 1) draw keyed by (seed, salt, keys): a pure function of
    * its inputs, so generation is independent of partitioning. */
  private def u(salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1000003L)).cast(DoubleType) / 1000003.0

  private def pick(salt: Int, key: Column, values: String*): Column =
    element_at(array(values.map(lit): _*),
      (u(salt, key) * values.size).cast(IntegerType) + 1)

  private def measured(salt: Int, key: Column, path: String): Column =
    Profile.pick(u(salt, key), profile.counts(path))

  /** Orders per customer as in the fixture, over this run's documents. */
  val customers: Int =
    math.round(Slices * SliceDocs / profile.num("orders.orders_per_active_customer")).toInt
  private val maxLines = profile.counts("orders.lines_per_order").map(_._1.toInt).max

  /** The generator's own record of which documents it malformed. */
  private def injectedBad(id: Column): Column =
    u(6, id) < badShare || u(13, id) < badShare

  def setup(d: String): Unit = {
    dir = d
    val id = col("id")
    val custkey = (u(2, id) * customers).cast(LongType) + 1L
    val nLines = measured(8, id, "orders.lines_per_order").cast(IntegerType)
    val lines = transform(slice(sequence(lit(1), lit(maxLines)), lit(1), nLines), i =>
      struct(i.as("lnum"), measured(9, id * 32 + i, "lineitem.quantity").cast(DoubleType).as("qty"),
        round(Profile.fromQuantiles(u(10, id, i), profile.list("lineitem.price_quantiles")), 2)
          .as("price"),
        measured(11, id * 32 + i, "lineitem.discount").cast(DoubleType).as("disc"),
        when(u(19, id, i) < badShare, lit(""))
          .otherwise(measured(12, id * 32 + i, "lineitem.returnflag")).as("flag"),
        date_format(date_add(lit(profile.str("lineitem.shipdate_min")).cast(DateType),
          Profile.fromQuantiles(u(14, id, i), profile.list("lineitem.shipdate_day_quantiles"))
            .cast(IntegerType)), "yyyy-MM-dd").as("shipdate")))
    val docs = spark.range(0, Slices.toLong * SliceDocs, 1, 4).select(
      id.as("doc_id"),
      (id / SliceDocs).cast(IntegerType).as("slice"),
      struct((id * 4 + 1).as("okey"), measured(5, id, "orders.status").as("status"),
        when(u(6, id) < badShare, lit("n/a"))
          .otherwise(format_string("%.2f",
            Profile.fromQuantiles(u(7, id), profile.list("orders.total_quantiles")))).as("total"),
        measured(15, id, "orders.priority").as("priority"))
        .as("order"),
      customerCols(custkey).as("customer"),
      lines.as("lines"),
      // `props` has no fixture counterpart: its shape is the benchmark's own
      to_json(struct(
        when(u(16, id) < 0.2, lit(null).cast(StringType))
          .otherwise(pick(17, id, "web", "store", "phone")).as("channel"),
        when(u(13, id) < badShare, concat(lit("x"), (u(18, id) * 100).cast(IntegerType).cast(StringType)))
          .otherwise((u(18, id) * 100).cast(IntegerType).cast(StringType)).as("score")))
        .as("props"))
    docs.write.partitionBy("slice").parquet(s"$dir/docs")
    // the dimension stores canonical records: original-case names, so a
    // hit (stored record) and a miss (built, upper-cased) differ
    spark.range(1, customers + 1L)
      .filter(u(21, col("id")) >= missShare)
      .select(customerCols(col("id")).as("c"))
      .select(col("c.custkey"), col("c.name"), col("c.nation"),
        when(col("c.segment") === "", lit("UNKNOWN")).otherwise(col("c.segment")).as("segment"))
      .write.parquet(s"$dir/dim/v=0")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    sliceBytes = (0 until Slices).map(k =>
      k -> fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$dir/docs/slice=$k")).getLength).toMap
  }

  private def customerCols(custkey: Column): Column =
    struct(custkey.as("custkey"),
      concat(lit("Customer#"), lpad(custkey.cast(StringType), 9, "0")).as("name"),
      (custkey % profile.num("customer.nations").toInt).cast(IntegerType).as("nation"),
      when(u(20, custkey) < badShare, lit("")).otherwise(measured(3, custkey, "customer.segment"))
        .as("segment"))

  def period: Int = UpsertEvery

  def step(i: Int, rec: Recorder): Unit = {
    val slice = i % Slices
    val id = rec.nextId
    opSlice(id) = (slice, dimV)
    if (rec("op", SliceDocs) {
      val (docs, dim) = Trace.span("sources.read") {
        (IO.readTable(spark, s"$dir/docs/slice=$slice", DocSchema),
          IO.readTable(spark, s"$dir/dim/v=$dimV", DimSchema))
      }
      val (orders, lines, custs) = Trace.span("compile.build") {
        val flat = docs.select(col("order.okey").as("okey"), explode(col("lines")).as("l"))
          .select(col("okey"), col("l.*"))
        (Wrangle.wrangle(docs, spec, "Order", Wrangle.Permissive),
          Wrangle.wrangle(flat, spec, "FlatLine", Wrangle.FailFast),
          Wrangle.getOrCreate(Wrangle.wrangle(docs, spec, "CustomerRec"), dim, Seq("custkey")))
      }
      Trace.span("exec.sink") {
        orders.write.parquet(s"$dir/sink/orders/op=$id")
        lines.write.parquet(s"$dir/sink/lines/op=$id")
        custs.write.parquet(s"$dir/sink/customers/op=$id")
      }
    }) pending += id
    if (i % UpsertEvery == UpsertEvery - 1 && pending.nonEmpty) {
      val folded = pending.toSeq
      val uid = rec.nextId
      if (rec("maint", 0) {
        val dim = Trace.span("sources.read") { IO.readTable(spark, s"$dir/dim/v=$dimV", DimSchema) }
        Trace.span("exec.upsert") {
          val created = spark.read.parquet(folded.map(o => s"$dir/sink/customers/op=$o"): _*)
            .filter(col("created")).drop("created")
          dim.unionByName(Wrangle.newRecords(created, dim, Seq("custkey")).distinct())
            .write.parquet(s"$dir/dim/v=${dimV + 1}")
        }
      }) {
        dimV += 1
        upserts += ((uid, dimV, folded))
        pending.clear()
      }
    }
  }

  /** Per `key`: row count, an order-independent hash of `cols` (the sum
    * of each row's xxhash64) and the `extra` aggregates. */
  private def digest(df: DataFrame, cols: Seq[String], key: String = "op",
                     extra: Seq[Column] = Nil): Map[Long, Seq[Any]] =
    df.groupBy(col(key).cast(LongType))
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast(DecimalType(38, 0))) +: extra: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  /** Expected outputs from hand-written Spark SQL over the generated
    * files: bypasses `compile` and `exec` entirely. */
  def check(): Seq[Check] = {
    import spark.implicits._
    val ops = opSlice.toSeq.map { case (o, (s, v)) => (o, s, v) }.toDF("op", "slice", "dimv")
    ops.createOrReplaceTempView("pb_ops")
    spark.read.parquet(s"$dir/docs").createOrReplaceTempView("pb_docs")
    spark.read.parquet(s"$dir/dim").createOrReplaceTempView("pb_dim")
    val segment = "CASE WHEN d.customer.segment IS NULL OR d.customer.segment = '' " +
      "THEN 'UNKNOWN' ELSE d.customer.segment END"
    val score = "get_json_object(d.props, '$.score')"
    val expOrders = spark.sql(
      s"""SELECT m.op, d.doc_id, d.order.okey AS okey,
         |  CASE WHEN d.order.status = 'F' THEN 'final' ELSE 'open' END AS status,
         |  try_cast(d.order.total AS DOUBLE) AS total,
         |  coalesce(get_json_object(d.props, '$$.channel'), 'unknown') AS channel,
         |  try_cast($score AS INT) AS score,
         |  named_struct('custkey', d.customer.custkey, 'name', upper(d.customer.name),
         |    'nation', d.customer.nation, 'segment', $segment) AS customer,
         |  transform(d.lines, l -> named_struct('lnum', l.lnum, 'qty', l.qty,
         |    'net', l.price * (1.0D - l.disc), 'shipdate', CAST(l.shipdate AS DATE))) AS lines,
         |  filter(array(
         |    CASE WHEN d.order.total IS NOT NULL AND try_cast(d.order.total AS DOUBLE) IS NULL
         |      THEN named_struct('model', 'Order', 'field', 'total', 'op', 'CastTo') END,
         |    CASE WHEN $score IS NOT NULL AND try_cast($score AS INT) IS NULL
         |      THEN named_struct('model', 'Order', 'field', 'score', 'op', 'CastTo') END),
         |    x -> x IS NOT NULL) AS _errors
         |FROM pb_docs d JOIN pb_ops m ON d.slice = m.slice""".stripMargin)
    val expLines = spark.sql(
      """SELECT m.op, d.order.okey AS okey, l.lnum, l.qty, l.price * (1.0D - l.disc) AS net,
        |  CAST(l.shipdate AS DATE) AS shipdate,
        |  CASE WHEN l.flag IS NULL OR l.flag = '' THEN 'N' ELSE l.flag END AS flag
        |FROM pb_docs d JOIN pb_ops m ON d.slice = m.slice
        |LATERAL VIEW explode(d.lines) t AS l""".stripMargin)
    val expCusts = spark.sql(
      s"""SELECT m.op, d.customer.custkey AS custkey,
         |  CASE WHEN k.custkey IS NOT NULL THEN k.name ELSE upper(d.customer.name) END AS name,
         |  CASE WHEN k.custkey IS NOT NULL THEN k.nation ELSE d.customer.nation END AS nation,
         |  CASE WHEN k.custkey IS NOT NULL THEN k.segment ELSE $segment END AS segment,
         |  k.custkey IS NULL AS created
         |FROM pb_docs d JOIN pb_ops m ON d.slice = m.slice
         |LEFT JOIN pb_dim k ON k.v = m.dimv AND k.custkey = d.customer.custkey""".stripMargin)
    val errorRows = count(when(size(col(Wrangle.ErrorsCol)) > 0, 1))
    val injectedRows = count(when(injectedBad(col("doc_id")), 1))
    // (sink, expected, hashed columns, extra expected and sunk aggregates)
    val tables = Seq(
      ("orders", expOrders, Seq("okey", "status", "total", "channel", "score", "customer", "lines",
        Wrangle.ErrorsCol), Seq(injectedRows), Seq(errorRows)),
      ("lines", expLines, Seq("okey", "lnum", "qty", "net", "shipdate", "flag"), Nil, Nil),
      ("customers", expCusts, Seq("custkey", "name", "nation", "segment", "created"), Nil,
        Seq(count(when(col("created"), 1)))))
    val unitOps = opSlice.keySet.toSeq
    val sinks = tables.map { case (t, exp, cols, wantExtra, gotExtra) =>
      val want = digest(exp, cols, extra = wantExtra)
      val got = digest(spark.read.parquet(s"$dir/sink/$t").filter(col("op").isin(unitOps: _*)),
        cols, extra = gotExtra)
      val bad = unitOps.filter(o => want.get(o).map(_.take(2)) != got.get(o).map(_.take(2)))
      (want, got, Check(s"wrangle_etl.$t matches the SQL projection", bad.isEmpty,
        s"${unitOps.size - bad.size}/${unitOps.size} ops match", bad))
    }
    // every dimension version v >= 1 must equal version v - 1 plus the
    // distinct customers created by the ops folded into it
    upserts.toSeq.flatMap { case (_, v, folded) => folded.map((_, v)) }
      .toDF("op", "v").createOrReplaceTempView("pb_ups")
    val dimCols = Seq("custkey", "name", "nation", "segment")
    val expDim = spark.sql(
      s"""SELECT k.v + 1 AS v, k.custkey, k.name, k.nation, k.segment FROM pb_dim k
         |WHERE k.v + 1 IN (SELECT v FROM pb_ups)
         |UNION ALL
         |SELECT DISTINCT u.v, d.customer.custkey, upper(d.customer.name), d.customer.nation, $segment
         |FROM pb_docs d JOIN pb_ops m ON d.slice = m.slice JOIN pb_ups u ON u.op = m.op
         |LEFT ANTI JOIN pb_dim k ON k.v = u.v - 1 AND k.custkey = d.customer.custkey""".stripMargin)
    val wantDim = digest(expDim, dimCols, "v")
    val gotDim = digest(spark.table("pb_dim").filter(col("v") > 0), dimCols, "v")
    val upsertChecks = upserts.toSeq.map { case (uid, v, _) =>
      Check(s"wrangle_etl.dimension v$v equals v${v - 1} plus the created customers",
        wantDim.get(v.toLong) == gotDim.get(v.toLong), "", Seq(uid))
    }
    // the error channel must flag exactly the rows the generator malformed
    def total(d: Map[Long, Seq[Any]], i: Int): Long = d.values.map(_(i).asInstanceOf[Long]).sum
    val Seq((wantOrders, gotOrders, _), _, (_, gotCusts, _)) = sinks
    val (rows, errRows, injected) = (total(gotOrders, 0), total(gotOrders, 2), total(wantOrders, 2))
    stats = Map("exec.error_row_frac" -> errRows.toDouble / math.max(rows, 1),
      "exec.injected_error_frac" -> injected.toDouble / math.max(rows, 1),
      "exec.goc_created_frac" -> total(gotCusts, 2).toDouble / math.max(total(gotCusts, 0), 1))
    sinks.map(_._3) ++ upsertChecks :+
      Check("wrangle_etl.error rows equal the injected rows", errRows == injected,
        s"$errRows error rows, $injected injected")
  }

  override def report(rec: Recorder): Map[String, Any] = {
    val units = rec.ops.filter(o => o.kind == "op" && o.ok)
    val in = units.map(o => sliceBytes(opSlice(o.id)._1)).sum
    // the generated input's shape, next to the profile it was drawn from
    val shape = spark.read.parquet(s"$dir/docs").agg(
      avg(size(col("lines"))), avg(when(size(col("lines")) === 0, 1).otherwise(0)),
      percentile_approx(expr("try_cast(order.total AS DOUBLE)"), lit(0.5), lit(10000)),
      avg(when(col("order.status") === "F", 1).otherwise(0)),
      countDistinct(col("customer.custkey"))).head()
    stats ++ Map(
      "sources.bytes_out_per_byte_in" -> units.map(_.fs.bytesWritten).sum.toDouble / math.max(in, 1L),
      "input.lines_per_order" -> shape.getDouble(0), "input.empty_order_share" -> shape.getDouble(1),
      "input.total_median" -> shape.getDouble(2), "input.status_f_share" -> shape.getDouble(3),
      "input.orders_per_customer" -> Slices * SliceDocs / shape.getLong(4).toDouble,
      "input.docs_per_op" -> SliceDocs, "input.slices" -> Slices,
      "input.bytes_per_slice" -> (if (sliceBytes.isEmpty) 0L else sliceBytes.values.sum / sliceBytes.size),
      "input.bad_share" -> badShare, "input.miss_share" -> missShare)
  }
}

object WrangleEtl {
  val Slices = 8
  val SliceDocs = 1500
  val UpsertEvery = 2

  Registry.register("perfbench_net", DoubleType) { row =>
    row.getField("price") * (lit(1.0) - row.getField("disc"))
  }

  val DocSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, order STRUCT<okey: BIGINT, status: STRING, total: STRING, priority: STRING>, " +
      "customer STRUCT<custkey: BIGINT, name: STRING, nation: INT, segment: STRING>, " +
      "lines ARRAY<STRUCT<lnum: INT, qty: DOUBLE, price: DOUBLE, disc: DOUBLE, flag: STRING, shipdate: STRING>>, " +
      "props STRING")

  val DimSchema: StructType = StructType.fromDDL(
    "custkey BIGINT, name STRING, nation INT, segment STRING")

  private def customer(prefix: Option[String]): Seq[(String, Transform)] = {
    def get(f: String): Transform = prefix.fold[Transform](Get(f))(p => Get(p) | Get(f))
    Seq("custkey" -> get("custkey"),
      "name" -> (get("name") | Fn("upper")),
      "nation" -> get("nation"),
      "segment" -> (get("segment") | Default("UNKNOWN")))
  }

  val spec: PipelineSpec = PipelineSpec(
    Model("Customer")(customer(None): _*),
    Model("CustomerRec")(customer(Some("customer")): _*),
    Model("Line")(
      "lnum" -> Get("lnum"),
      "qty" -> Get("qty"),
      "net" -> Fn("perfbench_net"),
      "shipdate" -> (Get("shipdate") | CastTo(DateType))),
    Model("FlatLine")(
      "okey" -> Get("okey"),
      "lnum" -> Get("lnum"),
      "qty" -> Get("qty"),
      "net" -> Fn("perfbench_net"),
      "shipdate" -> (Get("shipdate") | CastTo(DateType)),
      "flag" -> (Get("flag") | Default("N"))),
    Model("Order")(
      "okey" -> (Get("order") | Get("okey")),
      "status" -> (Get("order") | Get("status") |
        If(Cmp("==", "F"), Constant("final"), Some(Constant("open")))),
      "total" -> (Get("order") | Get("total") | CastTo(DoubleType)),
      "channel" -> (Get("props") | Get("channel", Some("unknown"))),
      "score" -> (Get("props") | Get("score") | CastTo(IntegerType)),
      "customer" -> (Get("customer") | Create("Customer")),
      "lines" -> (Get("lines") | MapT(Create("Line")))))
}
