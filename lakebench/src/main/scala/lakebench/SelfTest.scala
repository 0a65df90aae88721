package lakebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own checks, run by `test_bench.py` on the corpus
  * tables and a small lake feed:
  *
  *  - full-result guard: for every timed job, the optimized plan of the
  *    timed `noop` write keeps every non-trivial expression of the plan
  *    `graft.Verify` writes (`coalesce(1)` + parquet), and t8_pii_scrub
  *    keeps its regex, which a `count()` plan drops;
  *  - fingerprints: `%.6g` rendering, order independence, and a corrupted
  *    output (changed value, dropped or duplicated row) always mismatches;
  *  - lake_etl correctness: a pass matches its plain-SQL references, and a
  *    corrupted dw table raises the mismatch count.
  *
  * Prints `SELFTEST ok <name>` / `SELFTEST FAIL <name>: why` per check and
  * exits non-zero if any failed.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Option[String]): Unit = {
    val r = try body catch { case e: Throwable => Some(s"threw ${e}") }
    r match {
      case None => println(s"SELFTEST ok $name")
      case Some(why) => failures += 1; println(s"SELFTEST FAIL $name: $why")
    }
  }

  /** Canonical strings of every non-trivial expression node in a plan. */
  def expressions(plan: LogicalPlan): Set[String] = {
    val out = collection.mutable.Set[String]()
    def visit(p: LogicalPlan): Unit = {
      p.expressions.foreach(_.foreach {
        case _: Attribute | _: Literal | _: Alias | _: BoundReference =>
        case e: Expression => out += e.canonicalized.toString
      })
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    out.toSet
  }

  /** Optimized plan of the timed action, captured as it runs. */
  def timedPlan(df: DataFrame): LogicalPlan = {
    val spark = df.sparkSession
    @volatile var plan: LogicalPlan = null
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plan = qe.optimizedPlan
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try Materialize.full(df)
    finally {
      org.apache.spark.LakebenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    plan
  }

  private def hasRegex(plan: LogicalPlan): Boolean =
    expressions(plan).exists(e => e.contains("regexp_replace") || e.contains("rlike"))

  def main(o: Map[String, String]): Unit = {
    val spark = Main.session()
    val dir = o("inputs")

    check("pyG matches Python %.6g") {
      val cases = Seq(0.0001 -> "0.0001", 0.00001 -> "1e-05", 123456.7 -> "123457",
        1234567.0 -> "1.23457e+06", 999999.5 -> "1e+06", 0.1 + 0.2 -> "0.3",
        1e21 -> "1e+21", -2.5e-7 -> "-2.5e-07", 100000.0 -> "100000",
        1.0 / 3 -> "0.333333", 2.0 -> "2", -0.0 -> "-0", 5e-324 -> "4.94066e-324")
      cases.collectFirst { case (v, want) if Fingerprint.pyG(v) != want =>
        s"$v rendered ${Fingerprint.pyG(v)}, Python gives $want" }
    }

    val base = graft.SparkEntry.queries("t4_fingerprint")(spark, dir)
    val fp = Fingerprint.of(base)
    check("fingerprint ignores row order and partitioning") {
      val again = Fingerprint.of(base.repartition(3).orderBy(rand(7)))
      if (again == fp) None else Some(s"$again != $fp")
    }
    check("corrupted outputs mismatch") {
      val num = base.schema.fields.find(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType]).get.name
      val first = base.orderBy(base.columns.map(col).toIndexedSeq: _*).limit(1)
      val changed = base.exceptAll(first).unionByName(
        first.withColumn(num, col(num) + 1))
      val variants = Map("changed value" -> changed, "dropped row" -> base.exceptAll(first),
        "duplicated row" -> base.unionByName(first))
      variants.collectFirst { case (k, df) if Fingerprint.of(df) == fp =>
        s"$k kept fingerprint $fp" }
    }

    val timed = Mix.load(o("mixes")).values.flatMap(_.jobs.map(_._1)).toSeq.sorted
    timed.foreach { q =>
      check(s"full-result guard $q") {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        val verify = expressions(df.coalesce(1).queryExecution.optimizedPlan)
        val kept = expressions(timedPlan(df))
        spark.catalog.clearCache()
        val lost = verify -- kept
        if (lost.isEmpty) None else Some(s"timed plan drops ${lost.take(3).mkString("; ")}")
      }
    }
    check("t8_pii_scrub keeps its regex; a count() plan would not") {
      val df = graft.SparkEntry.queries("t8_pii_scrub")(spark, dir)
      if (!hasRegex(timedPlan(df))) Some("timed plan lost the PII regex")
      else if (hasRegex(df.groupBy().agg(count(lit(1))).queryExecution.optimizedPlan))
        Some("count plan still holds the regex: the guard could not tell them apart")
      else None
    }

    val work = java.nio.file.Files.createTempDirectory("lakebench-selftest").toString
    val lakeInputs = o("lake-inputs")
    val lake = new LakeEtl
    val ctx = Ctx(spark, new Tracer(spark, enabled = false), lakeInputs, work)
    check("lake_etl outputs match their plain-SQL references") {
      lake.pass(ctx, new scala.util.Random(0))
      val bad = lake.check(ctx)
      if (bad.isEmpty) None else Some(s"mismatches: ${bad.mkString(", ")}")
    }
    check("a corrupted lake_etl table raises mismatch_count") {
      val outs = lake.outputs(ctx)
      val orders = outs("dw.orders")
      val corrupted = outs.updated("dw.orders",
        orders.withColumn("total_price",
          when(col("order_key") === orders.agg(min("order_key")).head().get(0),
            col("total_price") + lit(0.01)).otherwise(col("total_price"))))
      val n = lake.mismatches(corrupted, lake.references(ctx)).size
      if (n == 1) None else Some(s"mismatch_count $n, expected 1")
    }

    spark.stop()
    println(s"SELFTEST done failures=$failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
