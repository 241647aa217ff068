package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs while it runs. */
final class Ctx(val spark: SparkSession, val work: File, val cache: File, val seed: Long,
    val trace: Trace, val ledger: Ledger) {
  /** Seeded generator for request parameters; inputs use their own. */
  val rng = new scala.util.Random(seed)
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def conf: org.apache.hadoop.conf.Configuration = spark.sessionState.newHadoopConf()

  /** A directory of inputs built once per checkout and build, then reused
    * read-only by later runs. `build` fills a fresh directory.
    */
  def cached(name: String)(build: File => Unit): File = {
    val d = new File(cache, name)
    if (!new File(d, ".complete").isFile) {
      org.apache.commons.io.FileUtils.deleteDirectory(d)
      val tmp = new File(cache, s"$name.tmp")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      tmp.mkdirs()
      build(tmp)
      new File(tmp, ".complete").createNewFile()
      java.nio.file.Files.move(tmp.toPath, d.toPath)
    }
    d
  }

  /** Whole-run figures a workload measured (log size and the like). */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  /** Benchmark-side correctness failures, reported with the result. */
  val problems = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok && problems.size < 20) problems += what
    ok
  }
}

object Inputs {
  /** Seed of the generated tables and files. They are the same for every
    * run, so they are built once per checkout; `--seed` drives the request
    * stream (which files, row groups, columns, partitions, query order).
    */
  val DataSeed = 20260417L
}

/** One request of a closed loop: its class and its timed body. The body
  * returns the request's output check, which runs after the clock stops.
  */
final case class Request(cls: String, body: () => (() => Boolean))

trait Workload {
  /** Builds the cached inputs; `run.py` calls it in a JVM of its own, so
    * that no measured run inherits the JIT warmth of building them.
    */
  def prepare(ctx: Ctx): File
  /** This run's inputs, from the cache. Not timed. */
  def generate(ctx: Ctx): Unit
  /** Program set-up; timed as `setup_s`, repeated `setupReps` times. */
  def setup(ctx: Ctx, rep: Int): Unit
  def setupReps: Int = 3
  /** Untimed preparation between set-up and the timed phase. */
  def afterSetup(ctx: Ctx): Unit = ()
  /** Untimed whole cycles run before timing, so first-call costs (JIT,
    * first plan of each request class) stay out of the timed phase.
    */
  def warmCycles: Int = 1
  def request(ctx: Ctx, i: Long): Request
  /** A timed phase only ends on a multiple of this many requests (a whole
    * cycle or pass), so every run has the same request mix.
    */
  def passLength: Int
  /** End-of-run output checks. */
  def finalCheck(ctx: Ctx): Boolean = true
  /** Parquet files (with sidecars) the once-per-traced-run layer probe uses. */
  def probeFiles(ctx: Ctx): Seq[String]
  /** Extra per-workload figures for the trace report. */
  def report(ctx: Ctx): Seq[(String, Double)] = Nil
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out DIR --cache DIR`. Prints the result as the last stdout line.
  */
object Main {
  final case class Done(cls: String, ms: Double, cpuMs: Double, ok: Boolean, t0Ms: Long,
      t1Ms: Long, id: Long, traced: Boolean)

  /** The highest quantile, at most p90 and at least the median, with five
    * samples or more above it.
    */
  def tail(xs: Seq[Double]): Double =
    Stats.quantile(xs, math.max(0.5, math.min(0.9, 1.0 - 5.0 / xs.size)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    val cache = new File(opts("cache"))
    work.mkdirs(); out.mkdirs(); cache.mkdirs()

    val workload: Workload = name match {
      case "wide_meta" => new WideMeta
      case "log_commit" => new LogCommit
      case "query_mix" => new QueryMix
      case other => sys.error(s"unknown workload '$other'")
    }
    val spark = session(work)
    val ledger = new Ledger(spark)
    ledger.install()
    val trace = new Trace(traced)
    val ctx = new Ctx(spark, work, cache, seed, trace, ledger)

    if (opts.getOrElse("prepare", "0") == "1") {
      workload.prepare(ctx)
      spark.stop()
      return
    }
    val tg = System.nanoTime()
    workload.generate(ctx)
    System.err.println(f"[perfbench] $name inputs generated in ${(System.nanoTime() - tg) / 1e9}%.1f s")
    val setupS = (0 until workload.setupReps).map { r =>
      val t0 = System.nanoTime()
      workload.setup(ctx, r)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] $name setup_s=${setupS.mkString(",")}")
    workload.afterSetup(ctx)

    var next = 0L
    val cycle = workload.passLength
    /** Runs requests for `budgetS` seconds, ending on a whole cycle. With
      * `alternate`, every other cycle is traced.
      */
    def phase(alternate: Boolean, budgetS: Double): Seq[Done] = {
      val done = mutable.ArrayBuffer.empty[Done]
      val deadline = System.nanoTime() + (budgetS * 1e9).toLong
      def more: Boolean = System.nanoTime() < deadline || next % cycle != 0
      while (done.isEmpty || more || (alternate && done.size < 2 * cycle)) {
        val id = next
        next += 1
        val req = workload.request(ctx, id)
        val withTrace = alternate && (id / cycle) % 2 == 1
        ledger.beginRequest(id)
        trace.request = if (withTrace) id else -1L
        trace.active = withTrace
        val t0Ms = System.currentTimeMillis()
        val cpu0 = Jvm.processCpuNs()
        val t0 = System.nanoTime()
        var t1 = 0L
        var t1Ms = 0L
        var cpu1 = 0L
        val ok =
          try {
            val check = if (withTrace) trace.span("op." + req.cls)(req.body()) else req.body()
            t1 = System.nanoTime()
            cpu1 = Jvm.processCpuNs()
            t1Ms = System.currentTimeMillis()
            trace.span("check." + req.cls)(check())
          } catch {
            case e: Throwable =>
              if (t1 == 0L) {
                t1 = System.nanoTime(); cpu1 = Jvm.processCpuNs(); t1Ms = System.currentTimeMillis()
              }
              ctx.check(false, s"request $id (${req.cls}) failed: $e")
              e.printStackTrace()
              false
          }
        done += Done(req.cls, (t1 - t0) / 1e6, (cpu1 - cpu0) / 1e6, ok, t0Ms, t1Ms, id, withTrace)
      }
      trace.request = -1L
      trace.active = trace.enabled
      ledger.beginRequest(-1L)
      done.toSeq
    }

    for (_ <- 0 until workload.warmCycles) phase(alternate = false, 0)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, unit: String): Unit = metrics(n) = (v, unit)
    var attempted = 0L
    var failed = 0L
    if (!traced) {
      val gc0 = Jvm.gcMs()
      val t0 = System.nanoTime()
      val done = phase(alternate = false, seconds)
      val wallS = (System.nanoTime() - t0) / 1e9
      val finalOk = workload.finalCheck(ctx)
      // the end-of-run check counts as one attempted operation
      attempted = done.size + 1
      failed = done.count(!_.ok) + (if (finalOk) 0 else 1)
      val byClass = done.groupBy(_.cls).toSeq.sortBy(_._1)
      // throughput and CPU per request: medians over whole cycles, so one
      // collector pause moves one cycle, not the run
      val cycles = done.grouped(cycle).toSeq
      put("setup_s", Stats.median(setupS), "s")
      put("ops_per_s", Stats.median(cycles.map(c => 1000.0 * c.size / c.map(_.ms).sum)), "1/s")
      // the tail is pooled over all requests, each latency taken over its
      // class's median, so every class counts at its own scale
      val classP50 = byClass.map { case (c, ds) => c -> Stats.median(ds.map(_.ms)) }.toMap
      val opP50 = Stats.geomean(classP50.values.toSeq)
      put("op_p50_ms", opP50, "ms")
      put("op_tail_ms", opP50 * tail(done.map(d => d.ms / classP50(d.cls))), "ms")
      put("cpu_ms_per_op", Stats.median(cycles.map(c => c.map(_.cpuMs).sum / c.size)), "ms")
      put("heap_mb", Jvm.retainedHeapMb(), "MB")
      put("ok_share", 1.0 - failed.toDouble / attempted, "share")
      byClass.foreach { case (c, ds) =>
        val ms = ds.map(_.ms)
        System.err.println(f"[perfbench] $name class $c%-14s n=${ds.size}%5d " +
          f"p50=${Stats.median(ms)}%.3f ms p90=${Stats.quantile(ms, 0.9)}%.3f ms " +
          f"p99=${Stats.quantile(ms, 0.99)}%.3f ms")
      }
      System.err.println(f"[perfbench] $name gc_ms=${Jvm.gcMs() - gc0} wall_s=$wallS%.2f")
    } else {
      // Whole cycles alternate untraced and traced (for query_mix: whole
      // passes); the latency ratio between them is the tracing overhead.
      val gc0 = Jvm.gcMs()
      val alloc0 = Jvm.threadAlloc()
      ledger.drain()
      ledger.resetScans()
      val all = phase(alternate = true, math.max(seconds, 1e-3))
      val (done, plain) = all.partition(_.traced)
      val allocMb = (Jvm.threadAlloc() - alloc0) / 1048576.0
      val gcMs = (Jvm.gcMs() - gc0).toDouble
      val finalOk = workload.finalCheck(ctx)
      LayerProbe.run(ctx, workload.probeFiles(ctx))
      ledger.drain()
      attempted = all.size + 1
      failed = all.count(!_.ok) + (if (finalOk) 0 else 1)
      // per class: mean traced latency over mean untraced latency
      val ratios = done.groupBy(_.cls).toSeq.flatMap { case (c, ts) =>
        val us = plain.filter(_.cls == c)
        if (us.isEmpty) None else Some(Stats.mean(ts.map(_.ms)) / Stats.mean(us.map(_.ms)))
      }
      val overhead = 100.0 * (Stats.geomean(ratios) - 1.0)
      PerLayer.compute(ctx, done, put)
      put("jvm.gc_ms", gcMs / all.size, "ms")
      put("jvm.alloc_mb", allocMb / all.size, "MB")
      put("trace.overhead_pct", overhead, "%")
      workload.report(ctx).foreach { case (k, v) => put(k, v, "") }
      val tag = s"$name-$seed"
      trace.writeJsonl(new File(out, s"spans-$tag.jsonl"))
      val rep = new java.io.PrintWriter(new File(out, s"layers-$tag.json"), "UTF-8")
      try rep.println(Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })) finally rep.close()
      System.err.println(s"[perfbench] spans and layer report written under $out")
    }

    val correct = failed == 0 && ctx.problems.isEmpty
    ctx.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    spark.stop()
    println(line)
    System.out.flush()
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", System.getProperty("java.io.tmpdir"))
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "1000000")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
