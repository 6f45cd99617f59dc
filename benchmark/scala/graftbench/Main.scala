package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Input sizes of each phase. A workload runs its own phase at full
  * size; a traced run adds the other phases as smaller probes so that it
  * reports every per-layer metric. */
object Sizes {
  final case class Ga(sgaBits: Int, sgaPop: Long, sgaGens: Int, cgaBits: Int, cgaPop: Long)
  final case class Curate(docs: Int, plantedPermille: Int)
  final case class Tables(rows: Int)

  val GaShape: Ga = Ga(sgaBits = 4096, sgaPop = 32768, sgaGens = 8, cgaBits = 64, cgaPop = 20)
  val TablesFull: Tables = Tables(rows = 5000)
  val TablesProbe: Tables = Tables(rows = 1000)
  val CurateProbe: Curate = Curate(docs = 500, plantedPermille = 100)
  val ProbeTableOps = 40
  val ProbePasses = 2
}

/** One benchmark run: one workload, one seed, in one JVM.
  *
  * {{{
  *   graftbench.Main --workload ga|tables --seed N --seconds S
  *     --trace 0|1 --cpus N --work DIR --out FILE
  * }}}
  *
  * Set-up is session start, the workload's input preparation repeated
  * [[PrepReps]] times, and warm-up. The workload's phase then runs its
  * closed loop until `--seconds` have passed since the first timed
  * operation. A traced run then probes the other phases and times the
  * single layers. The raw record (spans, samples, checks, and in a
  * traced run the Spark jobs, stages and planning phases) is written to
  * `--out` as JSON; `benchmark/run.py` turns it into metrics. */
object Main {
  val Workloads = Set("ga", "tables")
  val PrepReps = 3
  val WarmTableOps = 20

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cpus = opts("cpus").toInt
    val work = opts("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.extensions", "graft.sources.GraftSqlExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      // where the run may write: everything stays under --work
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, traced, seed, cpus, work)
    val recorder = if (traced) {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      Some(r)
    } else None
    val sessionReadyMs = Clock.nowMs

    def timedPrep(prepare: Int => Unit): Seq[Double] = (0 until PrepReps).map { rep =>
      val t0 = Clock.nowMs
      prepare(rep)
      val t1 = Clock.nowMs
      ctx.span("setup", "prepare", "setup", t0, t1)
      t1 - t0
    }
    def warmSpan(body: => Unit): Unit = {
      val t0 = Clock.nowMs
      body
      ctx.span("setup", "warm", "setup", t0, Clock.nowMs)
    }

    // set-up of the workload's own phase, then its closed loop
    lazy val ga = new GaPhase(ctx, Sizes.GaShape)
    lazy val tables = new TablesPhase(ctx, Sizes.TablesFull)
    val prepMs = workload match {
      case "ga" => timedPrep(ga.prepare)
      case "tables" => timedPrep(tables.prepare)
    }
    warmSpan {
      (0 until 20).foreach(_ => ctx.probeHost())
      workload match {
        case "ga" => ga.warm()
        case "tables" => (0 until WarmTableOps).foreach(_ => tables.step(timed = false))
      }
    }
    ctx.samples.remove("host_probe_ms")
    val firstTimedMs = Clock.nowMs
    val setupS = ((firstTimedMs - jvmStartMs) - prepMs.sum + Stats.median(prepMs)) / 1000.0
    val deadline = firstTimedMs + seconds * 1000.0
    workload match {
      // host-speed samples interleave with the timed work
      case "ga" => while (Clock.nowMs < deadline) {
          (0 until 3).foreach(_ => ctx.probeHost())
          ga.sga(timed = true)
          if (Clock.nowMs < deadline) {
            (0 until 3).foreach(_ => ctx.probeHost())
            (0 until GaPhase.CgaSubSeeds).foreach(_ => ga.cga(timed = true))
          }
        }
      // whole blocks, so every seed measures the same operation mix
      case "tables" =>
        var steps = 0
        while (Clock.nowMs < deadline || !tables.atBlockBoundary) {
          if (steps % 2 == 0) ctx.probeHost()
          tables.step(timed = true)
          steps += 1
        }
    }
    val measureEndMs = Clock.nowMs

    if (traced) {
      // probes of the other phases, then the single-layer timings
      val curate = new CuratePhase(ctx, Sizes.CurateProbe)
      curate.prepare(0)
      curate.pass(timed = false)
      (0 until Sizes.ProbePasses).foreach(_ => curate.pass(timed = true))
      curate.stages()
      ctx.values("curate.input_docs") = curate.inputDocs.toLong
      val gaL = if (workload == "ga") ga else {
        val g = new GaPhase(ctx, Sizes.GaShape)
        g.warm(); g.sga(timed = true); g.cga(timed = true)
        g
      }
      gaL.coreKernels()
      val tablesL = if (workload == "tables") tables else {
        val t = new TablesPhase(ctx, Sizes.TablesProbe)
        t.prepare(0)
        (0 until WarmTableOps).foreach(_ => t.step(timed = false))
        (0 until Sizes.ProbeTableOps).foreach(_ => t.step(timed = true))
        t
      }
      tablesL.tableLayer()
    }
    recorder.foreach(_.drain())

    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cpus" -> cpus, "seconds" -> seconds,
      "setup" -> Map("jvm_start_ms" -> jvmStartMs,
        "session_ready_ms" -> sessionReadyMs, "prep_ms" -> prepMs,
        "first_timed_ms" -> firstTimedMs, "setup_s" -> setupS),
      "measure" -> Map("start_ms" -> firstTimedMs, "end_ms" -> measureEndMs),
      "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq },
      "values" -> ctx.values,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "checks" -> ctx.checks, "errors" -> ctx.errors,
      "spans" -> ctx.spans,
      "jobs" -> recorder.map(_.jobRecords).getOrElse(Nil),
      "stages" -> recorder.map(_.stageRecords).getOrElse(Nil),
      "sql_phases" -> recorder.map(_.phaseRecords).getOrElse(Nil),
      "jvm" -> Map("heap_peak_mb" -> JvmStats.heapUsedMb, "gc_ms" -> JvmStats.gcMs))
    val out = new java.io.File(opts("out"))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.write(Json(record)) finally w.close()
    ctx.close()
    spark.stop()
  }
}
