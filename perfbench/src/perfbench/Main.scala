package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one `PERFBENCH_RESULT {...}` line.
  *
  * {{{
  * perfbench.Main --workload serve|ingest_serve|maintain --seed N --seconds S
  *                --trace 0|1 --work DIR --trace-out FILE
  * }}}
  * `--trace 0` measures the end-to-end metrics; `--trace 1` alternates
  * traced and untraced steps and reports the per-layer metrics and the
  * overhead of tracing. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Set("serve", "ingest_serve", "maintain").contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    work.mkdirs()

    val cpus = Runtime.getRuntime.availableProcessors()
    // the session settings of graft.Bench.main, on local[nproc]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark, trace)
    val report = new Report(workload)
    val ctx = new Ctx(spark, seed, seconds, trace, work, tracer, report)
    ctx.phase("session ready")
    workload match {
      case "serve" => Serve.run(ctx)
      case "ingest_serve" => IngestServe.run(ctx)
      case "maintain" => Maintain.run(ctx)
    }
    ctx.phase("measured")
    if (trace) {
      val counts = tracer.counts()
      report.layers ++= Layers.summarize(tracer, counts, report)
      tracer.dump(new File(a("trace-out")), counts)
    }
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> report.attempted, "failed" -> report.failed,
      "end_to_end" -> report.endToEnd.toMap, "per_layer" -> report.layers,
      "samples" -> Map("reads" -> report.reads.size, "writes" -> report.writes.size,
        "setups" -> report.setups.size),
      "info" -> report.info)))
    System.out.flush()
    spark.stop()
  }
}

/** Per-layer metrics from the spans of a traced run. */
object Layers {
  def summarize(t: Tracer, counts: Map[Long, SparkCounts], report: Report): Seq[(String, Double)] = {
    val zero = SparkCounts.Zero
    val perName = t.spans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val cs = ss.map(s => counts.getOrElse(s.id, zero))
      val ms = ss.map(_.durMs)
      val withElems = ss.filter(_.elems > 0)
      val batches = ss.map(_.batchMs).filterNot(_.isNaN)
      Seq(
        s"$name.p50_ms" -> Stats.median(ms),
        s"$name.s" -> Stats.median(ms) / 1000,
        s"$name.jobs" -> Stats.mean(cs.map(_.jobs.toDouble)),
        s"$name.stages" -> Stats.mean(cs.map(_.stages.toDouble)),
        s"$name.bytes_written" -> Stats.mean(ss.map(_.bytesWritten.toDouble)),
        s"$name.files_written" -> Stats.mean(ss.map(_.filesWritten.toDouble)),
        s"$name.driver_gap_ms" -> Stats.mean(ss.zip(cs).map { case (s, c) => Tracer.gapMs(s, c, Nil) })) ++
        (if (withElems.isEmpty) Nil
         else Seq(s"$name.ns_per_elem" -> Stats.median(withElems.map(s => s.durMs * 1e6 / s.elems)))) ++
        (if (batches.isEmpty) Nil else Seq(s"$name.batch_p50_ms" -> Stats.median(batches)))
    }
    // the runtime per closed-loop operation of the measured phase
    val ops = t.spans.filter(s => s.request >= 0 && s.parent == 0)
    val loop = t.spans.filter(_.request >= 0).map(s => counts.getOrElse(s.id, zero))
    def perOp(f: SparkCounts => Double): Double = if (ops.isEmpty) 0.0 else loop.map(f).sum / ops.size
    // tracing overhead: the traced operations against the untraced ones
    // of the same run (every other operation of each kind is traced)
    val all = report.reads ++ report.writes
    val tracedMean = Stats.mean(ops.map(_.durMs))
    val untracedMean = (all.sum - ops.map(_.durMs).sum) / math.max(1, all.size - ops.size)
    perName ++ Seq(
      "spark.jobs" -> perOp(_.jobs),
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks.toDouble),
      "spark.shuffle_bytes" -> perOp(_.shuffleBytes.toDouble),
      "trace.overhead_ms" -> (tracedMean - untracedMean),
      "trace.overhead_pct" -> (tracedMean / untracedMean - 1) * 100)
  }
}
