package perfbench

import graft.ops.Fixtures
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload's inputs, measure it for a
  * number of seconds, check its outputs, and write the result file.
  *
  * {{{
  * Main --workload <migrate|sync|search_serve> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --out <result.json>
  * }}}
  *
  * Untraced (`--trace 0`) the run reports the end-to-end metrics. Traced,
  * it measures half the time untraced and half traced and reports the
  * per-layer metrics, the tracing overhead among them.
  */
object Main {

  /** Timed set-ups; `setup_s` is their median. An untimed set-up comes
    * first, so the timed ones run warm code; the untimed warm-up of the
    * operations follows the last (`warmup_s`).
    */
  val SetupReps = 3

  val endToEnd: Seq[(String, String)] = Seq("op_p50_ms" -> "ms", "ops_per_s" -> "1/s", "setup_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "warmup_s" -> "s", "heap_retained_mb" -> "MB", "op_samples" -> "count", "failed_share" -> "share",
    "trace.overhead_ms" -> "ms", "driver_ms_per_op" -> "ms",
    "spark.jobs" -> "jobs/op", "spark.tasks" -> "tasks/op", "spark.task_cpu_s" -> "s/op", "spark.gc_s" -> "s/op",
    "spark.shuffle_write_bytes" -> "B/op",
    "plan_s" -> "s", "write_s" -> "s", "validate_s" -> "s", "other_s" -> "s", "rows_moved" -> "rows/op",
    "write_rows_per_s" -> "rows/s", "rows_scanned_per_row" -> "rows/row", "bytes_written_per_row" -> "B/row"
  )

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "migrate" => new Migrate(spark)
    case "sync" => new Sync(spark, seed)
    case "search_serve" => new SearchServe(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val started = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%6.1f s  $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new java.io.File(opt("work")).getAbsolutePath
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    System.setProperty("derby.system.home", work)
    val spark = Fixtures
      .sessionBuilder("local[4]", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    try {
      val w = workload(opt("workload"), spark, seed)
      w.setup(s"$work/input0")
      log("untimed set-up done")
      val setupS = (1 to SetupReps).map { i =>
        val t0 = System.nanoTime()
        w.setup(s"$work/input$i")
        log(s"set-up $i done")
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmUp()
      val warmUpS = (System.nanoTime() - w0) / 1e9
      log("warm-up done")
      val tracer = new Tracer(spark.sparkContext)
      val (measured, metrics) =
        if (!traced) {
          val m = w.measure(seconds, tracer)
          (
            Seq(m),
            Map(
              "op_p50_ms" -> Stats.median(m.latMs), "ops_per_s" -> m.latMs.size / m.wallS,
              "setup_s" -> Stats.median(setupS)
            )
          )
        } else {
          val plain = w.measure(seconds / 2, tracer)
          tracer.start()
          val root = tracer.open("measure", 0)
          tracer.tag(root)
          val m = w.measure(seconds / 2, tracer)
          root.endMs = System.currentTimeMillis()
          tracer.untag()
          tracer.drain()
          System.gc()
          val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
          val c = tracer.total(root)
          val n = m.latMs.size.toDouble
          val failed = plain.failed + m.failed
          val attempted = plain.attempted + m.attempted
          // an operation's wall time outside the Spark jobs it ran
          val driverMs = tracer.named(w.opSpan).map { op =>
            (op.endMs - op.startMs) - Stats.covered(tracer.total(op).jobIntervals.toSeq, op.startMs, op.endMs)
          }
          val generic = Map(
            "warmup_s" -> warmUpS, "heap_retained_mb" -> retainedMb, "op_samples" -> n,
            "failed_share" -> failed.toDouble / attempted,
            "trace.overhead_ms" -> (Stats.median(m.latMs) - Stats.median(plain.latMs)),
            "driver_ms_per_op" -> Stats.median(driverMs.map(_.toDouble)),
            "spark.jobs" -> c.jobs / n, "spark.tasks" -> c.tasks / n, "spark.task_cpu_s" -> c.cpuNs / 1e9 / n,
            "spark.gc_s" -> c.gcMs / 1e3 / n, "spark.shuffle_write_bytes" -> c.shuffleWriteBytes / n
          )
          val layers = generic ++ w.layers(tracer, m, work)
          tracer.stop()
          tracer.write(s"$work/spans.jsonl")
          (Seq(plain, m), perLayer.map { case (k, _) => k -> layers(k) }.toMap)
        }
      log(s"measured ${measured.map(_.latMs.size).sum} operations: ${measured.flatMap(_.latMs).map(x => f"$x%.0f").mkString(" ")} ms")
      val units = (endToEnd ++ perLayer).toMap
      val attempted = measured.map(_.attempted).sum
      val failed = measured.map(_.failed).sum
      val out = new java.io.PrintWriter(opt("out"), "UTF-8")
      try out.println(
        Json.value(
          Map(
            "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
            "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }
          )
        )
      )
      finally out.close()
    } finally spark.stop()
  }
}
