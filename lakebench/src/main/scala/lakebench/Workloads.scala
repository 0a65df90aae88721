package lakebench

import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ingest.JsonlSource
import graft.lake.{Layer, Metastore, PartitionDiscovery, TableWriter}
import graft.ops.ValidateOps.FieldRule
import graft.pipeline.{Cdc, Scd2, TableLoad}
import graft.streaming.EventStream

/** What a workload's run has to hand: the session, the tracer, the staged
  * inputs and a private work directory inside the checkout.
  */
final case class Ctx(spark: SparkSession, trace: Tracer, inputs: String, work: String)

/** One timed pass: wall time, per-job wall times (a query's materializing
  * action, a load step, a micro-batch) and per-unit latencies (a query's
  * entry call to complete result, a run date's landing to read-back, a
  * file's due time to its batch commit).
  */
final case class PassResult(wallS: Double, jobS: Seq[Double],
    latencyS: Seq[Double], attempted: Int, failed: Int,
    extra: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  def why: String
  def loop: String
  /** Expected seconds of one pass on four cores; sizes the pass count. */
  def nominalPassS: Double
  def jobList: Seq[String]
  /** Untimed work before the timed passes: JIT, codegen, cached models. */
  def warm(ctx: Ctx): Unit
  def pass(ctx: Ctx, rng: Random): PassResult
  /** After the passes: the outputs whose fingerprint differs from the reference. */
  def check(ctx: Ctx): Seq[String]
}

object Materialize {
  /** The complete result, every row and column, through Spark's `noop`
    * sink: the same plan a real write runs, minus the I/O.
    */
  def full(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Timer {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

// ------------------------------------------------------- declared queries

/** A closed loop of declared queries (`SparkEntry.queries`) over the sf0.1
  * corpus tables, one client, each pass in a seeded order. A job is timed from
  * the declaration call to the end of its `noop` write; `job_s` is the
  * write, `latency_s` the whole call.
  */
final class QueryMix(val name: String, val why: String,
    val nominalPassS: Double, jobs: Seq[(String, String)],
    references: Map[String, Fingerprint]) extends Workload {
  val loop = "closed, 1 client"
  val jobList: Seq[String] = jobs.map(_._1)
  private val module = jobs.toMap

  private def declare(ctx: Ctx, q: String): DataFrame =
    SparkEntry.queries(q)(ctx.spark, ctx.inputs)

  private var bad = Seq.empty[String]

  /** The warm pass fingerprints every complete result (a `noop` write
    * leaves nothing to compare), so the check reports what it found.
    */
  def warm(ctx: Ctx): Unit = bad = jobList.filter { q =>
    val fp = try Some(Fingerprint.of(declare(ctx, q)))
      catch { case e: Exception =>
        System.err.println(s"[lakebench] $q failed: ${e.getMessage}")
        None
      }
    ctx.spark.catalog.clearCache()
    val ok = fp.isDefined && references.get(q) == fp
    if (!ok) System.err.println(s"[lakebench] $q: got $fp, reference ${references.get(q)}")
    !ok
  }

  def check(ctx: Ctx): Seq[String] = bad

  def pass(ctx: Ctx, rng: Random): PassResult = {
    val t = ctx.trace
    var failed = 0
    val (samples, wall) = Timer {
      t.span("pass") {
        rng.shuffle(jobList).flatMap { q =>
          val r = try Some(t.span(s"${module(q)}.$q") {
              val t0 = System.nanoTime()
              val df = t.span("entry.build")(declare(ctx, q))
              if (t.active) t.span("entry.plan")(df.queryExecution.executedPlan)
              val (_, execS) = Timer(t.span("exec")(Materialize.full(df)))
              (execS, (System.nanoTime() - t0) / 1e9)
            })
            catch { case e: Exception =>
              failed += 1
              System.err.println(s"[lakebench] $q failed: ${e.getMessage}")
              None
            }
          ctx.spark.catalog.clearCache()
          r
        }
      }
    }
    PassResult(wall, samples.map(_._1), samples.map(_._2), jobList.size, failed)
  }
}

// -------------------------------------------------------------- lake ETL

/** The paper's core loop over a landed JSONL order feed, one run date at a
  * time: validated ingest → raw (JSON) → clean (partitioned, catalogued)
  * → enrich (per-customer aggregate) → dw (CDC-applied orders and a type-2
  * customer dimension), then partition discovery and catalog read-back.
  * Every pass re-runs all dates, so each load overwrites partitions that
  * already exist.
  */
final class LakeEtl extends Workload {
  val name = "lake_etl"
  val why = "the paper's raw->clean->enrich->dw loop: ingest, lake writes, " +
    "catalog and pipeline merges do the work; ext and streaming stay idle"
  val loop = "closed, 1 client"
  val nominalPassS = 7.0
  val jobList = Seq("ingest+raw", "clean", "enrich", "dw.orders",
    "dw.customer_dim", "discover", "readback")

  private val rules = Seq(
    FieldRule.requiredField("_order__key"),
    FieldRule.requiredField("_seq"),
    FieldRule.matching("_order__date", "^\\d{4}-\\d{2}-\\d{2}$"),
    FieldRule.matching("_total__price", "^[0-9]+\\.[0-9]{2}$"),
    FieldRule.oneOf("_order__status", Seq("F", "O", "P")),
    FieldRule.oneOf("_op", Seq("I", "U", "D")))

  private def landed(ctx: Ctx) = s"${ctx.inputs}/landed"
  private def runDates(ctx: Ctx): Seq[String] =
    new java.io.File(landed(ctx)).list().toSeq.filter(_.startsWith("run_date="))
      .map(_.stripPrefix("run_date=")).sorted

  private def ms(ctx: Ctx) = Metastore(new java.io.File(ctx.work, "lake").toURI.toString)

  private val dimSchema = StructType(Seq(
    StructField("customer_id", LongType), StructField("tier", StringType),
    StructField("valid_from", DateType), StructField("valid_to", DateType),
    StructField("is_current", BooleanType)))
  private val orderCols = Seq("order_key", "customer_id", "status",
    "total_price", "channel", "items", "ship_mode")

  private def partFilter(d: LocalDate) =
    s"year = ${d.getYear} AND month = ${d.getMonthValue} AND day = ${d.getDayOfMonth}"

  /** Register `df` written at `path` as `db.table` in the dw layer. */
  private def dwVersion(ctx: Ctx, df: DataFrame, table: String, i: Int): Unit = {
    val t = ctx.trace
    val spec = TableWriter.Spec(Layer.Dw,
      s"${ms(ctx).tablePath(Layer.Dw, "shop", table)}/version_$i")
    t.span("lake.write")(TableWriter.write(df, spec))
    t.span("lake.register")(TableWriter.registerExternalTable(
      ctx.spark, ms(ctx).dwDatabase("shop"), table, spec, Some(df.schema)))
  }

  /** One run date; returns (step, seconds) per step. */
  private def runDate(ctx: Ctx, day: String, i: Int): Seq[(String, Double)] = {
    val (spark, t, m) = (ctx.spark, ctx.trace, ms(ctx))
    val d = LocalDate.parse(day)
    def step(s: String)(body: => Unit): (String, Double) =
      (s, Timer(t.span(s"step.$s")(body))._2)
    val rawDb = m.datalakeDatabase("shop", Layer.Raw)
    val cleanDb = m.datalakeDatabase("shop", Layer.Clean)
    val enrichDb = m.datalakeDatabase("shop", Layer.Enrich)
    val dwDb = m.dwDatabase("shop")
    Seq(
      step("ingest+raw") {
        val feed = t.span("ingest.read")(
          JsonlSource.readValidated(spark, s"${landed(ctx)}/run_date=$day", rules))
        val spec = TableWriter.Spec(Layer.Raw, m.tablePath(Layer.Raw, "shop", "orders_feed"),
          partitionBy = Seq("run_date"), dynamicPartitionOverwrite = true)
        val staged = feed.withColumn("run_date", lit(day))
        t.span("lake.write")(TableWriter.write(staged, spec))
        t.span("lake.register")(TableWriter.registerExternalTable(
          spark, rawDb, "orders_feed", spec, Some(staged.schema)))
      },
      step("clean") {
        t.span("pipeline.load")(TableLoad.run(spark, m, TableLoad.Spec(
          source = "shop", table = "orders_clean", targetLayer = Layer.Clean,
          partitions = Seq("year", "month", "day"), runDate = Some(d),
          incremental = true, query =
            s"""SELECT CAST(_order__key AS BIGINT) AS order_key,
               |  CAST(customer_id AS BIGINT) AS customer_id,
               |  _order__status AS status,
               |  CAST(_total__price AS DECIMAL(12,2)) AS total_price,
               |  CAST(_order__date AS DATE) AS order_date,
               |  _op AS op, CAST(_seq AS BIGINT) AS seq,
               |  get_json_object(_props, '$$.channel') AS channel,
               |  CAST(get_json_object(_props, '$$.items') AS INT) AS items,
               |  get_json_object(_props, '$$.ship.mode') AS ship_mode
               |FROM $rawDb.orders_feed
               |WHERE run_date = '$day' AND size(_validation_errors) = 0""".stripMargin)))
      },
      step("enrich") {
        t.span("pipeline.load")(TableLoad.run(spark, m, TableLoad.Spec(
          source = "shop", table = "customer_daily", targetLayer = Layer.Enrich,
          partitions = Seq("year", "month", "day"), runDate = Some(d),
          incremental = true, query =
            s"""SELECT customer_id, count(*) AS n_orders,
               |  sum(total_price) AS spend, max(items) AS max_items
               |FROM $cleanDb.orders_clean
               |WHERE ${partFilter(d)} AND op <> 'D'
               |GROUP BY customer_id""".stripMargin)))
      },
      step("dw.orders") {
        val base =
          if (i == 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            spark.table(s"$cleanDb.orders_clean").select(orderCols.map(col): _*).schema)
          else spark.table(s"$dwDb.orders")
        val changes = spark.table(s"$cleanDb.orders_clean").where(partFilter(d))
          .select((orderCols ++ Seq("seq", "op")).map(col): _*)
        val merged = t.span("pipeline.merge")(
          Cdc.applyChanges(base, changes, Seq("order_key"), "seq", "op"))
        dwVersion(ctx, merged, "orders", i)
      },
      step("dw.customer_dim") {
        val current =
          if (i == 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dimSchema)
          else spark.table(s"$dwDb.customer_dim")
        val updates = spark.table(s"$enrichDb.customer_daily").where(partFilter(d))
          .select(col("customer_id"),
            when(col("spend") >= 500000, "gold").when(col("spend") >= 100000, "silver")
              .otherwise("bronze").as("tier"))
        val merged = t.span("pipeline.merge")(
          Scd2.merge(current, updates, Seq("customer_id"), lit(day)))
        dwVersion(ctx, merged, "customer_dim", i)
      },
      step("discover") {
        val parts = t.span("lake.discover")(PartitionDiscovery.discoverPartitionValues(
          spark, m.tablePath(Layer.Clean, "shop", "orders_clean")))
        require(parts.nonEmpty, "clean table has no partitions")
      },
      step("readback") {
        t.span("lake.readback") {
          Materialize.full(spark.table(s"$dwDb.orders"))
          Materialize.full(spark.table(s"$dwDb.customer_dim").where("is_current"))
          Materialize.full(spark.table(s"$cleanDb.orders_clean").where(partFilter(d)))
        }
      })
  }

  def pass(ctx: Ctx, rng: Random): PassResult = {
    val dates = runDates(ctx)
    val (perDate, wall) = Timer(ctx.trace.span("pass") {
      ctx.trace.span("pipeline.incremental") {
        dates.zipWithIndex.map { case (d, i) => runDate(ctx, d, i) }
      }
    })
    val jobs = perDate.flatten.map(_._2)
    PassResult(wall, jobs, perDate.map(_.map(_._2).sum), jobs.size, 0,
      Map("landed_bytes" -> landedBytes(ctx).toDouble))
  }

  def landedBytes(ctx: Ctx): Long =
    new java.io.File(landed(ctx)).listFiles().flatMap(_.listFiles()).map(_.length).sum

  /** The pipeline's tables after a pass, recomputed with plain Spark SQL
    * from the landed feed: valid rows, latest change per key, daily
    * per-customer aggregates and the tier history as type-2 versions.
    */
  def references(ctx: Ctx): Map[String, DataFrame] = {
    val spark = ctx.spark
    spark.read.json(landed(ctx)).createOrReplaceTempView("lb_feed")
    spark.sql(
      """SELECT CAST(`Order Key` AS BIGINT) AS order_key,
        |  CAST(customerId AS BIGINT) AS customer_id, `Order Status` AS status,
        |  CAST(`Total Price` AS DECIMAL(12,2)) AS total_price,
        |  CAST(`Order Date` AS DATE) AS order_date, Op AS op,
        |  CAST(Seq AS BIGINT) AS seq,
        |  get_json_object(Props, '$.channel') AS channel,
        |  CAST(get_json_object(Props, '$.items') AS INT) AS items,
        |  get_json_object(Props, '$.ship.mode') AS ship_mode,
        |  year(run_date) AS year, month(run_date) AS month, day(run_date) AS day,
        |  CAST(run_date AS DATE) AS run_date
        |FROM lb_feed
        |WHERE `Order Key` IS NOT NULL AND Seq IS NOT NULL
        |  AND `Order Date` RLIKE '^[0-9]{4}-[0-9]{2}-[0-9]{2}$'
        |  AND `Total Price` RLIKE '^[0-9]+\\.[0-9]{2}$'
        |  AND `Order Status` IN ('F', 'O', 'P') AND Op IN ('I', 'U', 'D')""".stripMargin)
      .createOrReplaceTempView("lb_valid")
    val clean = spark.sql("SELECT * EXCEPT (run_date) FROM lb_valid")
    spark.sql(
      """SELECT customer_id, count(*) AS n_orders, sum(total_price) AS spend,
        |  max(items) AS max_items, year, month, day, run_date
        |FROM lb_valid WHERE op <> 'D'
        |GROUP BY customer_id, year, month, day, run_date""".stripMargin)
      .createOrReplaceTempView("lb_daily")
    val orders = spark.sql(
      s"""SELECT ${orderCols.mkString(", ")} FROM (
         |  SELECT *, row_number() OVER (PARTITION BY order_key ORDER BY seq DESC) AS rk
         |  FROM lb_valid) WHERE rk = 1 AND op <> 'D'""".stripMargin)
    val dim = spark.sql(
      """WITH t AS (
        |  SELECT customer_id, run_date,
        |    CASE WHEN spend >= 500000 THEN 'gold' WHEN spend >= 100000 THEN 'silver'
        |         ELSE 'bronze' END AS tier
        |  FROM lb_daily),
        |c AS (
        |  SELECT *, lag(tier) OVER (PARTITION BY customer_id ORDER BY run_date) AS prev
        |  FROM t),
        |v AS (
        |  SELECT customer_id, tier, run_date AS valid_from,
        |    lead(run_date) OVER (PARTITION BY customer_id ORDER BY run_date) AS valid_to
        |  FROM c WHERE prev IS NULL OR prev <> tier)
        |SELECT customer_id, tier, valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM v""".stripMargin)
    Map("clean" -> clean,
      "enrich" -> spark.sql("SELECT * EXCEPT (run_date) FROM lb_daily"),
      "dw.orders" -> orders, "dw.customer_dim" -> dim)
  }

  def outputs(ctx: Ctx): Map[String, DataFrame] = {
    val m = ms(ctx)
    val spark = ctx.spark
    Map(
      "clean" -> spark.table(s"${m.datalakeDatabase("shop", Layer.Clean)}.orders_clean"),
      "enrich" -> spark.table(s"${m.datalakeDatabase("shop", Layer.Enrich)}.customer_daily"),
      "dw.orders" -> spark.table(s"${m.dwDatabase("shop")}.orders"),
      "dw.customer_dim" -> spark.table(s"${m.dwDatabase("shop")}.customer_dim"))
  }

  /** Names of the outputs whose fingerprint differs from the reference. */
  def mismatches(got: Map[String, DataFrame], want: Map[String, DataFrame]): Seq[String] =
    got.toSeq.sortBy(_._1).flatMap { case (k, df) =>
      val (g, w) = (Fingerprint.of(df), Fingerprint.of(want(k)))
      if (g == w) None
      else {
        System.err.println(s"[lakebench] lake_etl $k: got $g, reference $w")
        Some(k)
      }
    }

  /** The first run date only. */
  def warm(ctx: Ctx): Unit = runDate(ctx, runDates(ctx).head, 0)

  /** The tables the last pass left, against the plain-SQL references. */
  def check(ctx: Ctx): Seq[String] = mismatches(outputs(ctx), references(ctx))
}

// ------------------------------------------------------------ stream feed

/** An open loop: one generator thread stages the seeded event files into
  * the stream's input directory on a fixed schedule, while
  * `EventStream.dedupStream` → `parquetSink` and, reading that sink,
  * `windowedEventAgg` → `parquetSink` run with the default trigger.
  * Latency is a file's due time to the commit of the aggregation batch
  * that read its deduplicated rows.
  */
final class StreamFeed extends Workload {
  val name = "stream_feed"
  val why = "an open-loop stream: file source, dedup and window state " +
    "stores and the parquet sink; lake and ext stay idle"
  val loop = "open"
  val filesPerS = 4.0
  val nominalPassS = 11.0
  val jobList = Seq("dedupStream -> parquetSink", "windowedEventAgg -> parquetSink")
  val lateness = "10 minutes"
  val window = "5 minutes"

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("text", StringType)))

  private def files(ctx: Ctx): Seq[java.io.File] =
    new java.io.File(ctx.inputs, "stream").listFiles().toSeq.sortBy(_.getName)

  /** Mean events per staged file, the sentinel left out. */
  def rowsPerFile(ctx: Ctx): Double = {
    val fs = files(ctx).init
    fs.map(f => java.nio.file.Files.readAllLines(f.toPath).size).sum.toDouble / fs.size
  }

  private val runs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One stream run at `rate` files/s: (pass, latencies, batch durations,
    * per-layer extras).
    */
  def run(ctx: Ctx, rate: Double, only: Option[Int] = None): PassResult = {
    val spark = ctx.spark
    val base = new java.io.File(ctx.work, s"stream/run${runs.incrementAndGet()}")
    def dir(name: String) = new java.io.File(base, name).getPath
    val in = new java.io.File(base, "in")
    val landing = new java.io.File(base, "landing")
    in.mkdirs(); landing.mkdirs()
    val all = files(ctx)
    // a shortened run keeps the sentinel so it still drains
    val src = only.fold(all)(n => all.take(n) :+ all.last)
    // two chained queries: both operators define a watermark on `ts`, and
    // Spark refuses to redefine one inside a single query
    val dedup = EventStream.parquetSink(EventStream.dedupStream(
      EventStream.readJsonlStream(spark, in.getPath, schema), "text", "ts", lateness),
      dir("dedup"), dir("ckpt-dedup")).start()
    val agg = EventStream.parquetSink(EventStream.windowedEventAgg(
      spark.readStream.schema(schema).parquet(dir("dedup")), "ts", window, lateness),
      dir("out"), dir("ckpt-agg")).start()
    val queries = Seq(dedup, agg)
    val due = new Array[Long](src.size)
    val staged = new Array[Long](src.size)
    val t0 = System.currentTimeMillis() + 200
    val gen = new Thread(() => src.zipWithIndex.foreach { case (f, i) =>
      due(i) = t0 + math.round(i * 1000 / rate)
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val tmp = new java.io.File(landing, f.getName)
      java.nio.file.Files.copy(f.toPath, tmp.toPath)
      java.nio.file.Files.move(tmp.toPath, new java.io.File(in, f.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      staged(i) = System.currentTimeMillis()
    }, "lakebench-generator")
    gen.start()
    gen.join()
    // drained once the aggregation has read every file the dedup query
    // wrote up to the sentinel's batch and then run a batch with no input:
    // that batch's watermark advance emits every real window
    def drained: Boolean = {
      val d = metaLog(dir("ckpt-dedup/sources/0"))
      d.get(src.last.getName).exists { b =>
        new java.io.File(dir(s"ckpt-dedup/commits/$b")).exists && {
          val read = metaLog(dir("ckpt-agg/sources/0"))
          val written = metaLog(dir("dedup/_spark_metadata"))
          written.keys.forall(read.contains) && read.nonEmpty &&
            agg.recentProgress.exists(p => p.batchId > read.values.max && p.numInputRows == 0)
        }
      }
    }
    val deadline = System.currentTimeMillis() + 60000
    while (!drained && queries.forall(_.exception.isEmpty) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    val ok = drained
    queries.foreach(_.stop())
    queries.flatMap(_.exception).foreach(e => throw e)
    require(ok, "stream did not drain within 60 s")

    def commits(q: org.apache.spark.sql.streaming.StreamingQuery) = q.recentProgress.map(p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration)).toMap
    val (c1, c2) = (commits(dedup), commits(agg))
    val fileBatch = metaLog(dir("ckpt-dedup/sources/0"))
    val written = metaLog(dir("dedup/_spark_metadata"))
    val aggRead = metaLog(dir("ckpt-agg/sources/0"))
    // a file is done when the aggregation batch that read the dedup output
    // of its batch commits
    val doneAt = src.map { f =>
      val b1 = fileBatch(f.getName)
      val outs = written.collect { case (o, b) if b == b1 => aggRead(o) }
      if (outs.isEmpty) c1(b1) else c2(outs.max)
    }
    val lat = src.indices.map(i => (doneAt(i) - due(i)) / 1e3)
    val batchS = queries.flatMap(_.recentProgress.filter(_.numInputRows > 0))
      .map(_.batchDuration / 1e3)
    val backlog = dedup.recentProgress.toSeq.map { p =>
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      src.indices.count(i => due(i) <= ts && fileBatch(src(i).getName) >= p.batchId)
    }
    val extra = Map(
      "streaming.backlog_files" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "streaming.generator_late_s" ->
        src.indices.map(i => (staged(i) - due(i)) / 1e3).max)
    val wall = (doneAt.max - due.head) / 1e3
    PassResult(wall, batchS, lat, src.size, 0, extra)
  }

  /** file name → batch id, from a file source's or file sink's metadata log. */
  private def metaLog(path: String): Map[String, Long] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().drop(1).toList.flatMap { l =>
          "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l)
            .map(_.group(1).split('/').last -> f.getName.toLong)
        } finally src.close()
      }.toMap

  private var lastFull = 0

  def pass(ctx: Ctx, rng: Random): PassResult = {
    val r = ctx.trace.span("pass")(ctx.trace.span("streaming.run")(run(ctx, filesPerS)))
    lastFull = runs.get
    r
  }

  def reference(ctx: Ctx): DataFrame =
    ctx.spark.read.schema(schema).json(new java.io.File(ctx.inputs, "stream").getPath)
      .where(col("event_type") =!= "__advance__").distinct()
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** A short run over the first few files. */
  def warm(ctx: Ctx): Unit = run(ctx, filesPerS * 2, only = Some(2))

  /** The last pass's sink against the plain-SQL reference. */
  def check(ctx: Ctx): Seq[String] = {
    val out = new java.io.File(ctx.work, s"stream/run$lastFull/out").getPath
    val got = Fingerprint.of(ctx.spark.read.parquet(out))
    val want = Fingerprint.of(reference(ctx))
    if (got == want) Nil
    else {
      System.err.println(s"[lakebench] stream_feed sink: got $got, reference $want")
      Seq("sink")
    }
  }
}
