package lakebench

import scala.jdk.CollectionConverters._

/** A closed-loop mix of declared queries, as `mixes.json` declares it:
  * the nominal seconds of one pass, and each query with the `ext` module
  * it exercises.
  */
final case class Mix(passS: Double, jobs: Seq[(String, String)])

object Mix {
  val modules = Seq("dedup", "similarity", "textanalysis", "curation", "doremi", "multimodal")

  private def read(path: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))

  def load(path: String): Map[String, Mix] =
    read(path).properties().asScala.map { e =>
      val m = e.getValue
      e.getKey -> Mix(m.get("pass_s").asDouble,
        m.get("jobs").properties().asScala.map(j => j.getKey -> j.getValue.asText).toSeq)
    }.toMap

  /** Recorded fingerprints of one mix's complete results (`references.json`). */
  def references(path: String, mix: String): Map[String, Fingerprint] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else Option(read(path).get(mix)).toSeq.flatMap(_.properties().asScala)
      .map(e => e.getKey -> Fingerprint.parse(e.getValue.asText)).toMap
  }
}

/** Per-layer metrics of the traced passes, every one reported for every
  * workload (0 where the workload leaves the layer idle). Totals are per
  * pass: the sum over the traced passes divided by their number.
  */
object Layers {
  type Metric = (String, (String, Double))

  def apply(t: Tracer, passes: Seq[PassResult], cores: Int): Seq[Metric] = {
    val n = math.max(passes.size, 1).toDouble
    val spans = t.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get)
    def under(s: Span, name: String => Boolean) = ancestors(s).exists(a => name(a.name))
    def named(k: String) = spans.filter(_.name == k)
    def secs(k: String) = named(k).map(_.durS).sum / n
    def sqlIn(p: Span => Boolean) = spans.filter(p).flatMap(_.sql)

    val exec = new ExecStats
    named("exec").foreach(s => exec.add(s.exec))
    val execS = secs("exec")
    val execSql = sqlIn(_.name == "exec")
    val build = new ExecStats
    named("entry.build").foreach(s => build.add(s.exec))

    val loadSql = sqlIn(_.name == "pipeline.load")
    val writes = spans.flatMap(_.sql).filter(_.kind == "write")
    val rawRows = sqlIn(s => s.name == "lake.write" && under(s, _ == "step.ingest+raw"))
      .map(_.rowsWritten).sum
    val cleanRows = sqlIn(s => s.name == "pipeline.load" && under(s, _ == "step.clean"))
      .filter(_.kind == "write").map(_.rowsWritten).sum
    val bytesWritten = writes.map(_.bytesWritten).sum / n
    val landed = passes.flatMap(_.extra.get("landed_bytes")).headOption.getOrElse(0.0)

    val progress = t.progress.asScala.toSeq.map(_.progress)
    val batches = progress.filter(_.numInputRows > 0)
    def dur(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / n
    def lastState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      progress.groupBy(_.runId).values.map(_.maxBy(_.batchId).stateOperators.map(f).sum)
        .sum / n
    def extra(k: String) = passes.map(_.extra.getOrElse(k, 0.0)).sum / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    Seq(
      "entry.build_s" -> ("s", secs("entry.build")),
      "entry.eager_jobs" -> ("count", build.jobs / n),
      "entry.plan_s" -> ("s", secs("entry.plan")),
      "entry.plan_exchanges" -> ("count", execSql.map(_.exchanges).sum / n),
      "entry.plan_nodes" -> ("count", execSql.map(_.nodes).sum / n),
      "exec.s" -> ("s", execS),
      "exec.jobs" -> ("count", exec.jobs / n),
      "exec.stages" -> ("count", exec.stages / n),
      "exec.tasks" -> ("count", exec.tasks / n),
      "exec.task_run_s" -> ("s", exec.taskRunS / n),
      "exec.task_cpu_s" -> ("s", exec.taskCpuS / n),
      "exec.cpu_util" -> ("ratio", ratio(exec.taskCpuS / n, execS * cores)),
      "exec.gc_s" -> ("s", exec.gcS / n),
      "exec.scan_bytes" -> ("bytes", exec.scanBytes / n),
      "exec.shuffle_write_bytes" -> ("bytes", exec.shuffleWriteBytes / n),
      "exec.shuffle_read_bytes" -> ("bytes", exec.shuffleReadBytes / n),
      "exec.spill_bytes" -> ("bytes", exec.spillBytes / n),
      "exec.peak_exec_mem_bytes" -> ("bytes", exec.peakExecMemBytes.toDouble),
      "exec.task_skew" -> ("ratio", ratio(exec.skewSum, exec.skewWeight)),
      "ingest.read_s" -> ("s", secs("ingest.read")),
      "ingest.rows_in" -> ("count", rawRows / n),
      "ingest.valid_ratio" -> ("ratio", ratio(cleanRows, rawRows)),
      "lake.write_s" -> ("s", secs("lake.write") +
        loadSql.filter(_.kind == "write").map(_.durS).sum / n),
      "lake.bytes_written" -> ("bytes", bytesWritten),
      "lake.files_written" -> ("count", writes.map(_.filesWritten).sum / n),
      "lake.partitions_written" -> ("count", writes.map(_.partsWritten).sum / n),
      "lake.register_s" -> ("s", secs("lake.register") +
        loadSql.filter(_.kind == "command").map(_.durS).sum / n),
      "lake.discover_s" -> ("s", secs("lake.discover")),
      "lake.readback_s" -> ("s", secs("lake.readback")),
      "lake.write_amp" -> ("ratio", ratio(bytesWritten, landed)),
      "pipeline.load_s" -> ("s", secs("pipeline.load")),
      "pipeline.merge_s" -> ("s", secs("step.dw.orders") + secs("step.dw.customer_dim")),
      "pipeline.incremental_s" -> ("s", secs("pipeline.incremental")),
      "pipeline.rows_written" -> ("count", writes.map(_.rowsWritten).sum / n)) ++
    Mix.modules.map(m => s"ext.$m.s" -> ("s",
      spans.filter(_.name.startsWith(s"$m.")).map(_.durS).sum / n)) ++
    Seq(
      "streaming.batches" -> ("count", batches.size / n),
      "streaming.batch_s" -> ("s",
        if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.batchDuration / 1e3))),
      "streaming.add_batch_s" -> ("s", dur("addBatch")),
      "streaming.wal_commit_s" -> ("s", dur("walCommit") + dur("commitOffsets")),
      "streaming.planning_s" -> ("s", dur("queryPlanning")),
      "streaming.state_rows" -> ("count", lastState(_.numRowsTotal)),
      "streaming.state_bytes" -> ("bytes", lastState(_.memoryUsedBytes)),
      "streaming.backlog_files" -> ("count", extra("streaming.backlog_files")),
      "streaming.generator_late_s" -> ("s", extra("streaming.generator_late_s")))
  }
}

/** The open-loop rate sweep of a traced `stream_feed` run: the file
  * schedule at 1x, 2x and 4x the base rate, and the highest offered rate
  * whose tail latency stays within [[LimitS]] (a growing backlog shows as
  * a growing tail). Other workloads report 0.
  */
object Sweep {
  val LimitS = 5.0

  def apply(ctx: Ctx, w: Workload): Map[String, Double] = w match {
    case s: StreamFeed =>
      ctx.trace.active = false
      val rowsPerFile = s.rowsPerFile(ctx)
      val met = Seq(1.0, 2.0, 4.0).map(_ * s.filesPerS).takeWhile { r =>
        val lat = s.run(ctx, r).latencyS
        Stats.tail(lat).fold(lat.max)(_._2) <= LimitS
      }
      Map("streaming.sustained_rows_per_s" -> met.lastOption.map(_ * rowsPerFile).getOrElse(0.0))
    case _ => Map("streaming.sustained_rows_per_s" -> 0.0)
  }
}
