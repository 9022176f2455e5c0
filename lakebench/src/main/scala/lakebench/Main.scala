package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <ingest|mutate> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  *
  * Set-up (session start, the workload's build, one warmup), load
  * controls, then a closed loop of the workload's op pattern for at least
  * `--seconds` (the pattern in flight completes), then untimed output
  * checks. With `--trace 0` the last stdout line carries the end-to-end
  * metrics; with `--trace 1` the loop runs twice — untraced, then traced —
  * and the line carries the per-layer ledger of the traced pass plus the
  * tracing overhead. Exit status 1 when any output check fails.
  */
object Main {
  val Layers = Seq("Bronze", "SnapshotTable.commit", "SnapshotTable.select",
    "SnapshotCdcSource", "IncrementalGold", "GoldSql", "DqEngine",
    Trace.Harness)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_p90_s" -> "s",
    "ops_per_s" -> "1/s", "rows_per_s" -> "1/s", "read_p50_s" -> "s",
    "stored_bytes_per_row" -> "B/row", "heap_after_gc_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => Seq(s"$l.calls" -> "count", s"$l.wall_s" -> "s",
      s"$l.self_s" -> "s", s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.task_s" -> "s", s"$l.gap_s" -> "s")) ++
    Seq("spark.wall_s" -> "s", "spark.jobs" -> "count",
      "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.gap_s" -> "s",
      "Bronze.rows" -> "count", "Bronze.files_written" -> "count",
      "SnapshotTable.commit.bytes_written_per_row" -> "B/row",
      "SnapshotTable.commit.files_live" -> "count",
      "SnapshotTable.commit.delete_files_live" -> "count",
      "SnapshotTable.commit.versions" -> "count",
      "SnapshotTable.select.files_selected_frac" -> "ratio",
      "SnapshotCdcSource.batches" -> "count",
      "SnapshotCdcSource.rows_per_batch" -> "count",
      "SnapshotCdcSource.lag_p50_s" -> "s",
      "SnapshotCdcSource.lag_p90_s" -> "s",
      "IncrementalGold.partitions_republished" -> "count",
      "trace.untraced_op_p50_s" -> "s", "trace.traced_op_p50_s" -> "s",
      "trace.overhead_frac" -> "ratio", "trace.spans" -> "count",
      "trace.self_sum_error_s" -> "s")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def median(xs: Seq[Double]) = Workloads.percentile(xs, 0.5)

  // ---- load controls, copied from graft.Bench so the two read alike

  /** CPU control: an in-memory range sum, no IO. */
  private def controlTime(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 24).selectExpr("sum(id * 3 + 1) as s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** IO control: a 50-file parquet write through Spark's commit path plus
    * a read-back. */
  private def ioControlTime(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(200).repartition(50).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def json(m: Seq[(String, Double, String)]): String =
    m.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    require(Workloads.Names.contains(name),
      s"unknown workload $name (one of ${Workloads.Names.mkString(", ")})")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val out = arg(args, "out")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    def phase(what: String): Unit = System.err.println(
      f"[lakebench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $what")
    val spark = graft.Engine.session("lakebench", s"local[$cores]")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val annotations = collection.mutable.ArrayBuffer.empty[(String, Double)]
    def controls(at: String): Unit = {
      annotations += s"control_cpu_${at}_s" -> controlTime(spark)
      annotations += s"control_io_${at}_s" ->
        ioControlTime(spark, s"$work/io_control")
    }
    val trace = new Trace(spark)
    val w = Workloads(name, spark, trace, seed)
    phase("session up")
    val t0 = System.nanoTime()
    w.setup(s"$work/lake")
    val buildS = (System.nanoTime() - t0) / 1e9
    phase("built")
    w.warmup()
    val warmupS = (System.nanoTime() - t0) / 1e9 - buildS
    val setupS = sessionS + buildS + warmupS
    controls("open")
    phase("measuring")

    def measure(): Double = {
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      while (System.nanoTime() < end)
        try w.step() catch { case _: Exception => () } // counted in w.s
      (System.nanoTime() - t0) / 1e9
    }
    val wall = measure()
    val untracedOps = w.s.op.toVector
    val untracedLag = w.s.lag.toVector
    val ledger = if (!traced) None else {
      trace.start()
      w.resetCounts()
      measure()
      trace.stop()
      Some((trace.ledger(), w.layerCounts(), w.s.op.drop(untracedOps.size)))
    }

    phase("checking")
    // the layers' self times (harness included) must add up to the ops'
    // wall: a span that escaped its parent would break the ledger
    val selfErrNs = ledger.map { case (l, _, _) =>
      l.layers.values.map(_.selfNs).sum - l.opWallNs
    }
    val traceCheck = selfErrNs.map(err => Check("trace.self_times_add_up",
      math.abs(err) < 1000000L, s"layer self times miss the op wall by $err ns"))
    val checks = w.checks() ++ traceCheck :+ Check("ops.none_failed",
      w.s.failed == 0, s"${w.s.failed} of ${w.s.attempted} ops failed")
    val stored = w.storedBytesPerRow
    controls("close")
    phase("checked")
    // the lowest of three collections: one can run before a cleaner
    // thread has released what a later one frees
    val rt = Runtime.getRuntime
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min

    val metrics: Seq[(String, Double, String)] = ledger match {
      case None =>
        val ops = w.s.op.size
        val values = Map("setup_s" -> setupS,
          "op_p50_s" -> median(w.s.op.toSeq),
          "op_p90_s" -> Workloads.percentile(w.s.op.toSeq, 0.9),
          "ops_per_s" -> ops / wall, "rows_per_s" -> w.s.rows / wall,
          "read_p50_s" -> median(w.s.read.toSeq),
          "stored_bytes_per_row" -> stored, "heap_after_gc_mb" -> heapMb)
        EndToEnd.map { case (k, u) => (k, values(k), u) }
      case Some((l, counts, tracedOps)) =>
        val rows = l.layers.withDefaultValue(Trace.LayerRow())
        def sec(ns: Long) = ns / 1e9
        val layerValues = Layers.flatMap { name =>
          val r = rows(name)
          Seq(s"$name.calls" -> r.calls.toDouble,
            s"$name.wall_s" -> sec(r.wallNs), s"$name.self_s" -> sec(r.selfNs),
            s"$name.jobs" -> r.jobs.toDouble, s"$name.tasks" -> r.tasks.toDouble,
            s"$name.task_s" -> r.taskMs / 1e3, s"$name.gap_s" -> sec(r.gapNs))
        }
        val untracedP50 = median(untracedOps)
        val tracedP50 = median(tracedOps.toSeq)
        val values = (layerValues ++ counts ++ Seq(
          "spark.wall_s" -> sec(l.spark.wallNs),
          "spark.jobs" -> l.spark.jobs.toDouble,
          "spark.tasks" -> l.spark.tasks.toDouble,
          "spark.task_s" -> l.spark.taskMs / 1e3,
          "spark.gap_s" -> sec(l.spark.gapNs),
          "SnapshotCdcSource.lag_p50_s" -> median(untracedLag),
          "SnapshotCdcSource.lag_p90_s" -> Workloads.percentile(untracedLag, 0.9),
          "trace.untraced_op_p50_s" -> untracedP50,
          "trace.traced_op_p50_s" -> tracedP50,
          "trace.overhead_frac" ->
            (if (untracedP50 > 0) tracedP50 / untracedP50 - 1 else 0.0),
          "trace.spans" -> l.spans.toDouble,
          "trace.self_sum_error_s" -> sec(selfErrNs.get))).toMap
          .withDefaultValue(0.0)
        PerLayer.map { case (k, u) => (k, values(k), u) }
    }

    val correct = checks.forall(_.ok)
    val stem = s"$name-seed$seed-trace${if (traced) 1 else 0}"
    Files.createDirectories(Paths.get(out))
    ledger.foreach(_ => trace.write(Paths.get(s"$out/spans-$stem.json")))
    val samples = Seq("op" -> w.s.op, "read" -> w.s.read, "lag" -> w.s.lag,
      "maintain" -> w.s.maintain)
      .map { case (k, v) => s""""$k":${v.mkString("[", ",", "]")}""" }
      .mkString("{", ",", "}")
    val record = s"""{"workload":"$name","seed":$seed,"seconds":$seconds,"trace":$traced,"cores":$cores,""" +
      s""""session_s":$sessionS,"build_s":$buildS,"warmup_s":$warmupS,""" +
      s""""annotations":{${annotations.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},""" +
      s""""checks":[${checks.map(c => s"""{"name":"${c.name}","ok":${c.ok}}""").mkString(",")}],""" +
      s""""samples":$samples,"metrics":${json(metrics)}}"""
    Files.write(Paths.get(s"$out/run-$stem.json"), (record + "\n").getBytes(UTF_8))

    println(s"# lakebench workload=$name seed=$seed seconds=$seconds " +
      s"trace=${if (traced) 1 else 0} master=local[$cores]")
    annotations.foreach { case (k, v) => println(f"# annotation $k%s $v%.4f") }
    println(s"# samples op=${w.s.op.size} read=${w.s.read.size} lag=${w.s.lag.size}")
    metrics.foreach { case (k, v, u) => println(s"$k $v $u") }
    println(s"failed_ops_frac ${w.s.failed.toDouble / math.max(1, w.s.attempted)} " +
      s"ratio (${w.s.failed} of ${w.s.attempted})")
    checks.foreach(c => println(
      s"# check ${c.name} ${if (c.ok) "ok" else "FAILED " + c.detail}"))
    println(s"""{"correct":$correct,"attempted":${w.s.attempted},""" +
      s""""failed":${w.s.failed},"metrics":${json(metrics)}}""")
    System.out.flush()
    spark.stop()
    phase("stopped")
    if (!correct) sys.exit(1)
  }
}
