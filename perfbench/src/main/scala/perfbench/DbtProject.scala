package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.Dialect
import graft.mat.{CatalogOps, DataTests, Materializer}
import graft.model.Relation
import graft.operators.{AsOfJoin, GapFill, RangeJoin}

/** A small dbt project run through its life: one full build (CSV seed,
  * staging views, mart tables, operator-backed models, the first build of
  * four incremental models, two snapshots, data tests, the catalog), then
  * incremental runs that each apply one generated batch. */
final class DbtProject(seed: Long) extends Workload {
  import DbtProject._
  private val gen = new DbtGen(seed)
  private var spark: SparkSession = _
  private var mat: Materializer = _
  private var cat: CatalogOps = _
  private val Schema = "bench"
  private def rel(id: String) = Relation(Schema, id)
  private def src(name: String) = s"$dirOf/src/$name.parquet"
  private var dirOf = ""
  private var sourceBytes = 0L
  private var stagedRows = 0L
  /** Rows each traced incremental run staged, by its cycle span's id. */
  private val stagedByCycle = mutable.Map.empty[Int, Long]
  private val lateShare = mutable.ArrayBuffer.empty[Double]
  private val testResults = mutable.ArrayBuffer.empty[(Int, Map[String, Long], (Long, Long, Long))]

  // ---- inputs -------------------------------------------------------

  private def write(df: DataFrame, path: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    sourceBytes += Main.dirBytes(new File(path))
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000L)
  private def day(d: Int) = new Date((DbtGen.Epoch + d * DbtGen.Day) * 1000L)

  private def customersDf(cs: Iterable[Customer]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(cs.map(c =>
      Row(c.key, c.name, c.nation, c.acctbal, c.segment, ts(c.updatedAt)))
      .toSeq, 1), CustomerSchema)

  private def ordersDf(os: Iterable[Order]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(os.map(o =>
      Row(o.key, o.custkey.map(Long.box).orNull, o.status, o.price,
        ts(DbtGen.Epoch + o.orderDay * DbtGen.Day), o.priority,
        ts(o.updatedAt))).toSeq, 1), OrderSchema)

  private def linesDf(ls: Iterable[Line]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ls.map(l =>
      Row(l.orderkey, l.linenumber, l.partkey, l.suppkey, l.quantity,
        l.extprice, l.discount, l.tax, l.returnflag, day(l.shipDay)))
      .toSeq, 1), LineSchema)

  private def eventsDf(es: Iterable[AcctEvent]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(es.map(e =>
      Row(e.eventId, e.userId, ts(e.ts), e.value)).toSeq, 1), EventSchema)

  /** Points `src.<name>` at `path` (the source registration). */
  private def register(name: String, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS src.$name")
    spark.sql(s"CREATE TABLE src.$name USING parquet LOCATION '$path'")
  }

  def setup(ctx: Ctx): Unit = {
    spark = ctx.spark
    dirOf = ctx.dir
    mat = new Materializer(spark)
    cat = new CatalogOps(spark)
    val session = ctx.spark
    import session.implicits._
    write(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION"), col("id")).as("r_name")), src("region"))
    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), src("nation"))
    write(gen.parts.toDF("p_partkey", "p_name", "p_brand", "p_size",
      "p_retailprice"), src("part"))
    write(gen.suppliers.toDF("s_suppkey", "s_name", "s_nationkey"),
      src("supplier"))
    write(customersDf(gen.customers.values), src("customer"))
    write(ordersDf(gen.orders.values), src("orders"))
    write(linesDf(gen.lines.values.flatten), src("lineitem"))
    write(eventsDf(gen.events), src("events"))
    val seedCsv = s"${ctx.dir}/seeds/segment_targets.csv"
    Files.createDirectories(Paths.get(seedCsv).getParent)
    Files.write(Paths.get(seedCsv), ("segment,target,launched\n" +
      DbtGen.Segments.zipWithIndex.map { case (s, i) =>
        s"$s,${1000 * (i + 1)},2023-0${i + 1}-01" }.mkString("\n"))
      .getBytes("UTF-8"))
    spark.sql("CREATE DATABASE IF NOT EXISTS src")
    for (t <- Seq("region", "nation", "part", "supplier", "customer",
                  "orders", "lineitem", "events"))
      register(t, src(t))
    // warm-up: the staging layer in a scratch schema, dropped again
    spark.sql("CREATE DATABASE IF NOT EXISTS warm")
    stagingViews("warm")
    spark.sql("DROP DATABASE warm CASCADE")
  }

  // ---- models -------------------------------------------------------

  /** A view's SQL from Dialect-built columns: the staging layer uses the
    * adapter's dialect functions, rendered as the SQL they stand for. */
  private def selectSql(cols: Seq[Column], from: String): String =
    spark.table(from).select(cols: _*).queryExecution.analyzed match {
      case p: Project => p.projectList.map(_.sql)
        .mkString("SELECT ", ", ", s" FROM $from")
      case other => sys.error(s"not a projection: ${other.nodeName}")
    }

  private def stagingViews(schema: String): Unit = {
    val t0 = lit("2023-01-01 00:00:00").cast(TimestampType)
    mat.view(Relation(schema, "stg_orders"), selectSql(Seq(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"),
      Dialect.dateTrunc("month", col("o_orderdate")).as("o_month"),
      Dialect.dateDiff("day", t0, col("o_orderdate")).as("o_age_days"),
      Dialect.splitPart(col("o_orderpriority"), "-", 1).as("o_priority_rank"),
      Dialect.safeCast("o_totalprice", "decimal(18,2)").as("o_price_dec"),
      col("o_updated_at")), "src.orders"))
    mat.view(Relation(schema, "stg_lineitem"), selectSql(Seq(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("l_net"),
      col("l_returnflag"), col("l_shipdate"),
      Dialect.dateAdd("day", 7, col("l_shipdate")).as("l_due")),
      "src.lineitem"))
    mat.view(Relation(schema, "stg_customer"), selectSql(Seq(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      Dialect.rightStr(col("c_name"), lit(6)).as("c_code"),
      col("c_mktsegment"), col("c_acctbal")), "src.customer"))
  }

  private def starJoin(schema: String): DataFrame =
    spark.table(s"$schema.stg_lineitem")
      .join(spark.table(s"$schema.stg_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.table(s"$schema.stg_customer"),
        col("o_custkey") === col("c_custkey"), "left")
      .join(spark.table("src.nation"), col("c_nationkey") === col("n_nationkey"), "left")
      .join(spark.table("src.region"), col("n_regionkey") === col("r_regionkey"), "left")
      .join(spark.table("src.part"), col("l_partkey") === col("p_partkey"))
      .join(spark.table("src.supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("o_month"), col("n_name"), col("r_name"), col("p_brand"),
        col("s_name"), col("c_mktsegment"), col("l_quantity"), col("l_net"),
        col("l_shipdate"))

  // the four incremental models, each a function of its staged input so
  // the checks can run the same model over the generator's final state
  private def ordersModel(o: DataFrame): DataFrame = o.select(
    col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
    col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
    col("o_updated_at"))
  private def linesModel(l: DataFrame, o: DataFrame): DataFrame =
    l.join(o.select(col("o_orderkey").as("l_orderkey"),
        Dialect.dateTrunc("month", col("o_orderdate")).cast(DateType)
          .as("l_month")), Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_shipdate"), col("l_month"))
  private def eventsModel(e: DataFrame): DataFrame = e.select(
    col("event_id"), col("user_id"), col("ts"), col("value"))
  private def dailyModel(lines: DataFrame): DataFrame =
    lines.groupBy(col("l_shipdate").as("ship_day"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).as("quantity"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("revenue"))
      .select(col("n_lines"), col("quantity"), col("revenue"), col("ship_day"))

  private def dataTests(): Map[String, Long] =
    DataTests.summary(Seq(
        "unique_orderkey" -> DataTests.unique(
          spark.table(s"$Schema.inc_orders"), "o_orderkey"),
        "not_null_custkey" -> DataTests.notNull(
          spark.table(s"$Schema.inc_orders"), "o_custkey"),
        "accepted_status" -> DataTests.acceptedValues(
          spark.table(s"$Schema.inc_orders"), "o_orderstatus",
          DbtGen.Statuses),
        "rel_custkey" -> DataTests.relationships(
          spark.table(s"$Schema.inc_orders"), "o_custkey",
          spark.table("src.customer"), "c_custkey")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def snapshots(now: Long, r: Recorder): Unit = {
    r.span("mat.snapshot")(mat.snapshot(rel("snap_customers"),
      spark.table("src.customer"), Seq("c_custkey"), "c_updated_at",
      invalidateHardDeletes = true, now = lit(ts(now))))
    r.span("mat.snapshot_bucketed")(mat.snapshot(rel("snap_orders"),
      spark.table(s"$Schema.inc_orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_orderpriority")),
      Seq("o_orderkey"), "o_updated_at", now = lit(ts(now)),
      buckets = SnapshotBuckets,
      checkCols = Seq("o_orderstatus", "o_orderpriority")))
  }

  private def runDataTests(r: Recorder, batch: Int): Unit = {
    val got = r.span("mat.data_tests")(dataTests())
    testResults += ((batch, got, gen.expectedViolations))
  }

  /** The full build, from empty warehouse schema to every model. */
  private def build(ctx: Ctx): Unit = {
    val r = ctx.rec
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Schema")
    ctx.op("seed")(r.span("mat.seed")(mat.seed(rel("seed_segment_targets"),
      s"${ctx.dir}/seeds/segment_targets.csv")))
    ctx.op("staging")(r.span("mat.view")(stagingViews(Schema)))
    ctx.op("fct_order_lines")(r.span("mat.table")(
      mat.table(rel("fct_order_lines"), starJoin(Schema))))
    ctx.op("agg_month_nation")(r.span("mat.table")(mat.table(
      rel("agg_month_nation"), spark.table(s"$Schema.fct_order_lines")
        .groupBy(col("o_month"), col("n_name"), col("r_name"))
        .agg(sum(col("l_net")).as("revenue"),
          countDistinct(col("l_orderkey")).as("n_orders")))))
    ctx.op("agg_segment_target")(r.span("mat.table")(mat.table(
      rel("agg_segment_target"), spark.table(s"$Schema.fct_order_lines")
        .groupBy(col("c_mktsegment")).agg(sum(col("l_net")).as("revenue"))
        .join(spark.table(s"$Schema.seed_segment_targets"),
          col("c_mktsegment") === col("segment"), "left"))))
    ctx.op("op_asof_balance")(r.span("operators.asof") {
      val ev = r.span("sources.load")(Tables.load(spark, s"${ctx.dir}/src", "events"))
      val orders = spark.table(s"$Schema.stg_orders")
        .filter(col("o_custkey") <= DbtGen.EventUsers)
        .select(col("o_orderkey"), col("o_custkey").as("user_id"),
          col("o_orderdate").as("ts"))
      val right = ev.groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("balance"))
      mat.table(rel("op_asof_balance"), r.span("construct", "construct")(
        AsOfJoin.asOf(orders, right, "user_id", "ts", Seq("balance"))))
    })
    ctx.op("op_range_promos")(r.span("operators.range") {
      val li = spark.table(s"$Schema.stg_lineitem")
        .select(unix_timestamp(col("l_shipdate").cast(TimestampType)).as("p"),
          col("l_quantity"))
      val promos = spark.table(s"$Schema.stg_orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("promo_id"),
          unix_timestamp(col("o_orderdate")).as("lo"),
          (unix_timestamp(col("o_orderdate")) +
            (col("o_orderkey") % 30 + 1) * 86400L).as("hi"))
      mat.table(rel("op_range_promos"), r.span("construct", "construct")(
        RangeJoin.pointInInterval(li, "p", promos, "lo", "hi",
            bucketWidth = 86400L * 31)
          .groupBy(col("promo_id")).agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).as("quantity"))))
    })
    ctx.op("op_gapfill_balance")(r.span("operators.gapfill") {
      val ev = r.span("sources.load")(Tables.load(spark, s"${ctx.dir}/src", "events"))
      mat.table(rel("op_gapfill_balance"), r.span("construct", "construct")(
        GapFill.gapFill(ev.filter(col("user_id") <= 20), "user_id", "ts",
          "event_id", "value", stepSec = 86400L)))
    })
    ctx.op("inc_orders")(r.span("mat.incremental.merge")(mat.incremental(
      rel("inc_orders"), ordersModel(spark.table("src.orders")), "merge",
      Seq("o_orderkey"))))
    ctx.op("inc_lines")(r.span("mat.incremental.delete_insert")(
      mat.incremental(rel("inc_lines"),
        linesModel(spark.table("src.lineitem"), spark.table("src.orders")),
        "delete+insert", Seq("l_orderkey"), partitionCols = Seq("l_month"))))
    ctx.op("inc_events")(r.span("mat.incremental.append")(mat.incremental(
      rel("inc_events"), eventsModel(spark.table("src.events")), "append")))
    ctx.op("inc_daily")(r.span("mat.incremental.insert_overwrite")(
      mat.incremental(rel("inc_daily"),
        dailyModel(spark.table(s"$Schema.inc_lines")), "insert_overwrite",
        partitionCols = Seq("ship_day"))))
    ctx.op("snapshots")(snapshots(DbtGen.BaseTs, r))
    ctx.op("data_tests")(runDataTests(r, -1))
    ctx.op("catalog")(r.span("mat.catalog")(
      cat.getCatalog(Seq(Schema)).collect()))
  }

  /** Writes batch `b`'s inputs and re-points the customer source at the
    * current state: input preparation, outside the timed run. */
  private def prepare(b: DbtBatch): String = {
    val d = s"$dirOf/batches/b${b.id}"
    write(ordersDf(b.orders), s"$d/orders.parquet")
    write(linesDf(b.lines), s"$d/lineitem.parquet")
    write(eventsDf(b.events), s"$d/events.parquet")
    write(customersDf(gen.customers.values), s"$d/customer.parquet")
    register("customer", s"$d/customer.parquet")
    d
  }

  /** One incremental run: the batch through the four incremental models,
    * both snapshots, the data tests and a relation listing. */
  private def incrementalRun(ctx: Ctx, b: DbtBatch, d: String): Unit = {
    val r = ctx.rec
    val load = (n: String) => r.span("sources.load")(Tables.load(spark, d, n))
    ctx.op("inc_orders")(r.span("mat.incremental.merge")(mat.incremental(
      rel("inc_orders"), ordersModel(load("orders")), "merge",
      Seq("o_orderkey"))))
    ctx.op("inc_lines")(r.span("mat.incremental.delete_insert")(
      mat.incremental(rel("inc_lines"),
        linesModel(load("lineitem"), load("orders")), "delete+insert",
        Seq("l_orderkey"), partitionCols = Seq("l_month"))))
    ctx.op("inc_events")(r.span("mat.incremental.append")(mat.incremental(
      rel("inc_events"), eventsModel(load("events")), "append")))
    val days = b.touchedDays.toSeq.sorted.map(day)
    ctx.op("inc_daily")(r.span("mat.incremental.insert_overwrite")(
      mat.incremental(rel("inc_daily"), dailyModel(
          spark.table(s"$Schema.inc_lines")
            .filter(col("l_shipdate").isin(days: _*))),
        "insert_overwrite", partitionCols = Seq("ship_day"))))
    ctx.op("snapshots")(snapshots(b.ts, r))
    ctx.op("data_tests")(runDataTests(r, b.id))
    ctx.op("list_relations")(r.span("mat.catalog")(cat.listRelations(Schema)))
  }

  private val filesPerRun = mutable.ArrayBuffer.empty[Double]

  def measure(ctx: Ctx, seconds: Double): Samples = {
    val t0 = System.nanoTime()
    val buildS = time(ctx.rec.span("build", "cycle")(build(ctx)))
    val deadline = t0 + (seconds * 1e9).toLong
    val steps = mutable.ArrayBuffer.empty[Double]
    var i = 0
    var wh = if (ctx.rec.enabled) warehouseFiles() else Set.empty[String]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    val minRuns = if (ctx.rec.enabled) 3 else MinRuns
    while (i < minRuns || (System.nanoTime() < deadline && i < MaxRuns)) {
      val b = gen.batch(i)
      val d = prepare(b)
      ctx.rec.active = ctx.rec.enabled && i % 2 == 1
      traced += ctx.rec.active
      val staged = b.orders.size + b.lines.size + b.events.size +
        b.touchedDays.size
      steps += time(ctx.rec.span("incremental_run", "cycle") {
        if (ctx.rec.active) stagedByCycle(ctx.rec.currentCycle) = staged
        incrementalRun(ctx, b, d)
      })
      lateShare += b.lateOrders.toDouble / (b.newOrders + b.updatedOrders)
      stagedRows += staged
      if (ctx.rec.enabled) {
        val now = warehouseFiles()
        if (ctx.rec.active) filesPerRun += (now -- wh).size
        wh = now
      }
      i += 1
    }
    ctx.rec.active = ctx.rec.enabled
    val whBytes = Main.dirBytes(new File(s"$dirOf/warehouse/$Schema.db"))
    Samples(Seq(buildS), steps.toSeq, stagedRows,
      Map("warehouse_bytes" -> whBytes, "source_bytes" -> sourceBytes,
        "late_order_share" -> lateShare.sum / lateShare.size),
      whBytes.toDouble / sourceBytes, traced.toSeq)
  }

  private def time(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def warehouseFiles(): Set[String] = {
    val root = new File(s"$dirOf/warehouse/$Schema.db")
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f.getPath) else Nil
    walk(root).toSet
  }

  // ---- checks -------------------------------------------------------

  /** Order-independent content hash and row count of `df`. */
  private def fingerprint(df: DataFrame): (BigDecimal, Long) = {
    val h = xxhash64(df.columns.sorted.map(c => col(c).cast(StringType)): _*)
    val row = df.select(sum(h.cast(DecimalType(38, 0))), count(lit(1)))
      .collect()(0)
    (Option(row.getDecimal(0)).map(BigDecimal(_)).getOrElse(BigDecimal(0)),
      row.getLong(1))
  }

  private def sameAs(ctx: Ctx, target: String, recompute: DataFrame): Unit =
    ctx.check(s"$target equals a full recompute") {
      val got = fingerprint(spark.table(s"$Schema.$target"))
      val want = fingerprint(recompute)
      (got == want, s"target $got recompute $want")
    }

  /** Snapshot invariants: one open row per live key, none for a deleted
    * key, and each key's validity intervals in order without overlap. */
  private def snapshotOk(table: String, key: String,
                         live: Set[Long]): (Boolean, String) = {
    val s = spark.table(s"$Schema.$table")
    val open = s.filter(col("dbt_valid_to").isNull)
      .groupBy(col(key)).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = open.count(_._2 != 1)
    val wrongKeys = (open.keySet -- live).size + (live -- open.keySet).size
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      .orderBy(col("dbt_valid_from"))
    val overlaps = s.withColumn("next_from", lead(col("dbt_valid_from"), 1).over(w))
      .filter((col("next_from").isNotNull && (col("dbt_valid_to").isNull ||
          col("dbt_valid_to") > col("next_from"))) ||
        (col("dbt_valid_to").isNotNull && col("dbt_valid_to") < col("dbt_valid_from")))
      .count()
    (multi == 0 && wrongKeys == 0 && overlaps == 0,
      s"keys with >1 open row $multi, open/live mismatches $wrongKeys, " +
        s"overlapping intervals $overlaps")
  }

  def check(ctx: Ctx): Unit = {
    val finalOrders = ordersDf(gen.orders.values)
    val finalLines = linesDf(gen.lines.values.flatten)
    sameAs(ctx, "inc_orders", ordersModel(finalOrders))
    sameAs(ctx, "inc_lines", linesModel(finalLines, finalOrders))
    sameAs(ctx, "inc_events", eventsModel(eventsDf(gen.events)))
    sameAs(ctx, "inc_daily", dailyModel(finalLines))
    ctx.check("snap_customers intervals")(snapshotOk("snap_customers",
      "c_custkey", gen.customers.keySet.toSet))
    ctx.check("snap_orders intervals")(snapshotOk("snap_orders",
      "o_orderkey", gen.orders.keySet.toSet))
    testResults.foreach { case (b, got, (nNull, _, nOrphan)) =>
      ctx.check(s"data tests after batch $b") {
        val want = Map("unique_orderkey" -> 0L, "not_null_custkey" -> nNull,
          "accepted_status" -> 1L, "rel_custkey" -> nOrphan)
        (got == want, s"got $got want $want")
      }
    }
    ctx.check("no leftover tmp tables") {
      val left = spark.catalog.listTables(Schema).collect().map(_.name)
        .filter(n => Seq("__dbt_tmp", "__dbt_backup", "__dbt_scoped_tmp")
          .exists(n.contains))
      (left.isEmpty, left.mkString(","))
    }
  }

  // ---- per-layer metrics ---------------------------------------------

  def layers(ctx: Ctx): Map[String, Double] = {
    val r = ctx.rec
    val build = r.cycles("build")
    val runs = r.cycles("incremental_run")
    def perCycle(cs: Seq[Seq[Span]], name: String): Double =
      Stats.median(cs.map(_.filter(_.name == name).map(_.seconds).sum))
    val buildC = r.counters(build.flatten)
    val runC = runs.map(c => r.counters(c))
    Map(
      "mat.table_s" -> perCycle(build, "mat.table"),
      "mat.view_s" -> perCycle(build, "mat.view"),
      "mat.seed_s" -> perCycle(build, "mat.seed"),
      "mat.incremental.merge_s" -> perCycle(runs, "mat.incremental.merge"),
      "mat.incremental.delete_insert_s" ->
        perCycle(runs, "mat.incremental.delete_insert"),
      "mat.incremental.append_s" -> perCycle(runs, "mat.incremental.append"),
      "mat.incremental.insert_overwrite_s" ->
        perCycle(runs, "mat.incremental.insert_overwrite"),
      "mat.snapshot_s" -> perCycle(runs, "mat.snapshot"),
      "mat.snapshot_bucketed_s" -> perCycle(runs, "mat.snapshot_bucketed"),
      "mat.data_tests_s" -> perCycle(runs, "mat.data_tests"),
      "mat.catalog_s" -> perCycle(runs, "mat.catalog"),
      "mat.jobs_per_run" -> Stats.median(runC.map(_.jobs.toDouble)),
      "mat.write_amplification" -> Stats.median(runs.map(c =>
        r.counters(c).rowsWritten.toDouble / stagedByCycle(c.head.id))),
      "mat.files_written_per_run" -> Stats.median(filesPerRun.toSeq),
      "sources.bytes_read" -> buildC.bytesRead.toDouble,
      "sources.rows_read" -> buildC.rowsRead.toDouble,
      "operators.asof_s" -> perCycle(build, "operators.asof"),
      "operators.range_s" -> perCycle(build, "operators.range"),
      "operators.gapfill_s" -> perCycle(build, "operators.gapfill")
    ) ++ Metrics.engine(r, steps = runs, passes = build)
  }
}

object DbtProject {
  /** At least this many incremental runs, whatever the time budget; a
    * traced run makes three: an untraced warm-up, then one traced and one
    * untraced, for the overhead. */
  val MinRuns = 1
  val MaxRuns = 200
  val SnapshotBuckets = 8


  val CustomerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType),
    StructField("c_updated_at", TimestampType)))
  val OrderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType),
    StructField("o_updated_at", TimestampType)))
  val LineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType)))
  val EventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))
}
