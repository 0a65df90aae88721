package lakebench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM, `local[4]`, one workload per run.
  *
  * {{{
  * lakebench.Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --inputs <dir> --work <dir> --mixes <file> --references <file> --trace-out <file>
  * lakebench.Main selftest --inputs <corpus tables dir> --lake-inputs <dir> --mixes <file>
  * }}}
  *
  * `run` prints a `LAKEBENCH_READY <epoch ms>` line once the session is up
  * and then waits for one line on stdin, sent once the inputs are staged
  * (staging runs while the JVM starts); it then prints a
  * `LAKEBENCH_RECORD {...}` line describing the workload and the run, and
  * as its last line the result object. `selftest` runs [[SelfTest]].
  */
object Main {
  val Cores = 4

  def session(): SparkSession = {
    val spark = graft.Scratch.configure(SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // stream_feed maps files to batches through the metadata logs: keep
      // them one file per batch (no compaction) and every progress update
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.streaming.fileSource.log.compactInterval", "1000000")
      .config("spark.sql.streaming.fileSink.log.compactInterval", "1000000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Host weather: the fixed in-memory workload `graft.Bench` times (1e7
    * rows, a codegen'd aggregate and a small distinct shuffle, no I/O);
    * the first reading of a run is preceded by one untimed run.
    */
  def canary(spark: SparkSession, warmFirst: Boolean): Double = {
    def run(): Unit = spark.range(0L, 10000000L, 1L, 32)
      .selectExpr("sum(id % 97) as a", "avg((id * 31) % 101) as b",
        "count(distinct id % 1024) as c")
      .collect()
    if (warmFirst) run()
    Timer(run())._2
  }

  def workload(name: String, o: Map[String, String]): Workload = name match {
    case "corpus_curation" =>
      val why = "declared queries covering all six ext modules: native text/dedup/ANN/codec " +
        "kernels, cached models and driver-paced curation chains; the lake stays idle"
      val mix = Mix.load(o("mixes"))(name)
      new QueryMix(name, why, mix.passS, mix.jobs, Mix.references(o("references"), name))
    case "lake_etl" => new LakeEtl
    case "stream_feed" => new StreamFeed
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val o = opts(args.toSeq.drop(1))
    args.headOption match {
      case Some("run") => run(o)
      case Some("selftest") => SelfTest.main(o)
      case _ =>
        System.err.println("usage: lakebench.Main run|selftest --key value ...")
        sys.exit(2)
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def run(o: Map[String, String]): Unit = {
    val traced = o.getOrElse("trace", "0") == "1"
    val seconds = o("seconds").toDouble
    val seed = o("seed").toLong
    val spark = session()
    val tracer = new Tracer(spark, traced)
    val w = workload(o("workload"), o)
    val ctx = Ctx(spark, tracer, o("inputs"), o("work"))
    println(s"LAKEBENCH_READY ${System.currentTimeMillis()}")
    scala.io.StdIn.readLine()

    val phase = collection.mutable.LinkedHashMap[String, Double]()
    def timed[T](k: String)(body: => T): T = {
      val (r, dt) = Timer(body)
      phase(k) = dt
      r
    }
    timed("warm")(w.warm(ctx))
    val canaryStart = timed("canary")(canary(spark, warmFirst = true))
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds()
    val rng = new Random(seed)
    val passes = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    val plain = collection.mutable.ArrayBuffer[PassResult]()
    val withTrace = collection.mutable.ArrayBuffer[PassResult]()
    // a traced run finishes warming with one more pass, then alternates
    // untraced and traced passes, at least two of each, so trace.overhead
    // compares equally warm passes
    if (traced) timed("warm_traced")(w.pass(ctx, rng))
    timed("passes")((1 to (if (traced) math.max(2, passes) else passes)).foreach { _ =>
      plain += w.pass(ctx, rng)
      if (traced) {
        tracer.active = true
        withTrace += w.pass(ctx, rng)
        tracer.active = false
      }
    })
    val mismatches = timed("check")(w.check(ctx))
    val sweep = if (traced) timed("sweep")(Sweep(ctx, w)) else Map.empty[String, Double]
    val gcS = gcSeconds() - gc0
    val heapMb = peakHeapMb()
    val canaryEnd = canary(spark, warmFirst = false)
    tracer.close()

    val attempted = plain.map(_.attempted).sum
    val failed = plain.map(_.failed).sum
    val jobs = plain.flatMap(_.jobS).toSeq
    val lats = plain.flatMap(_.latencyS).toSeq
    val e2e = Seq(
      "wall_s" -> ("s", Stats.median(plain.map(_.wallS).toSeq)),
      "job_s.p50" -> ("s", Stats.median(jobs)),
      "latency_s.p50" -> ("s", Stats.median(lats)))
    // tails go to the record only where the samples hold one
    def tail(k: String, xs: Seq[Double]) = Seq(
      s"${k}_n" -> xs.size.toString,
      s"${k}_tail" -> Stats.tail(xs).fold("null") { case (p, v) =>
        Json.obj(Seq("percentile" -> Json.num(p), "value" -> Json.num(v))) })
    val layers =
      if (!traced) Nil
      else Layers(tracer, withTrace.toSeq, Cores) ++ sweep.toSeq.map {
        case (k, v) => k -> (if (k.endsWith("_per_s")) "1/s" else "s", v)
      } ++ Seq(
        "jvm.gc_s" -> ("s", gcS),
        "jvm.peak_heap_mb" -> ("MB", heapMb),
        "host.canary_s" -> ("s", (canaryStart + canaryEnd) / 2),
        "trace.overhead" -> ("ratio",
          Stats.median(withTrace.map(_.wallS).toSeq) / Stats.median(plain.map(_.wallS).toSeq)))
    if (traced) o.get("trace-out").foreach(p => tracer.write(java.nio.file.Paths.get(p)))

    val landed = plain.headOption.flatMap(_.extra.get("landed_bytes"))
    val record = Json.obj(Seq(
      "workload" -> Json.str(w.name), "why" -> Json.str(w.why),
      "jobs" -> Json.arr(w.jobList.map(Json.str)),
      "loop" -> Json.str(w.loop), "cores" -> Cores.toString,
      "seed" -> seed.toString, "passes" -> passes.toString,
      "lake_root" -> Json.str(s"${o("work")} (disk, inside the checkout)"),
    ) ++ tail("job_s", jobs) ++ tail("latency_s", lats) ++ Seq(
      "failed_ratio" -> Json.num(failed.toDouble / attempted),
      "mismatch_count" -> mismatches.size.toString,
      "mismatches" -> Json.arr(mismatches.map(Json.str)),
      "landed_bytes" -> Json.num(landed.getOrElse(0.0)),
      "host_canary_s" -> Json.arr(Seq(Json.num(canaryStart), Json.num(canaryEnd))),
      "jvm_gc_s" -> Json.num(gcS), "jvm_peak_heap_mb" -> Json.num(heapMb),
      "phases_s" -> Json.obj(phase.toSeq.map { case (k, v) => k -> Json.num(v) })))
    println(s"LAKEBENCH_RECORD $record")
    val metrics = (if (traced) layers else e2e).map { case (k, (unit, v)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    println(Json.obj(Seq(
      "correct" -> (mismatches.isEmpty && failed == 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics))))
    spark.stop()
  }
}
