package perfbench

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.core.{PJIndex, PJSplice, PalletJack}
import graft.sources.pjparquet.{PjCommitLog, PjLayout, PjParquetTable}

/** Calls into each layer's public functions, wrapped in spans. Every span
  * name is `<layer>.<function>`; the per-layer metrics are read off them.
  */
object Layers {
  private val hconf = new org.apache.hadoop.conf.Configuration()

  /** parquet-java's full footer parse: the host reference. */
  def stockFooter(ctx: Ctx, parquet: String): ParquetMetadata =
    ctx.trace.span("ref.stock_footer") {
      ParquetFileReader.readFooter(HadoopInputFile.fromPath(new Path(parquet), hconf),
        ParquetMetadataConverter.NO_FILTER)
    }

  def indexBuild(ctx: Ctx, parquet: String, indexPath: String): Unit =
    ctx.trace.span("core.index_build")(PalletJack.generateMetadataIndex(parquet, indexPath))

  def indexLoad(ctx: Ctx, indexPath: String): PJSplice.Index =
    ctx.trace.span("core.index_load")(PJSplice.Index.fromFile(indexPath))

  def splice(ctx: Ctx, idx: PJSplice.Index, rgs: Seq[Int], cols: Seq[Int],
      names: Seq[String], schemaOnly: Boolean): Array[Byte] =
    ctx.trace.span("core.splice") {
      val a0 = if (ctx.trace.active) Jvm.threadAlloc() else 0L
      val out = PJSplice.splice(idx, rgs, cols, names, schemaOnly)
      if (ctx.trace.active) {
        ctx.trace.attr("alloc", (Jvm.threadAlloc() - a0).toDouble)
        ctx.trace.attr("out", out.length.toDouble)
        ctx.trace.attr("keep", out.length.toDouble / idx.header.metadataLength)
      }
      out
    }

  def materialize(ctx: Ctx, footer: Array[Byte]): ParquetMetadata =
    ctx.trace.span("core.materialize") {
      val a0 = if (ctx.trace.active) Jvm.threadAlloc() else 0L
      val md = PalletJack.materialize(footer)
      if (ctx.trace.active) ctx.trace.attr("alloc", (Jvm.threadAlloc() - a0).toDouble)
      md
    }

  /** A commit; the ones that land on the checkpoint cadence get their own
    * span name, since they pay the checkpoint in the foreground.
    */
  def commit(ctx: Ctx, fn: => Long): Long = {
    val t0 = System.nanoTime()
    val v = fn
    val dt = System.nanoTime() - t0
    if (ctx.trace.active) {
      val name =
        if (v % PjCommitLog.CheckpointInterval == 0) "log.checkpoint_commit" else "log.commit"
      ctx.trace.record(name, t0, t0 + dt, Map.empty)
    }
    v
  }

  def latestWarm(ctx: Ctx, root: Path): Option[PjCommitLog.Snapshot] =
    ctx.trace.span("log.latest_warm")(PjCommitLog.latest(root.getFileSystem(hconf), root))

  /** Resolve after dropping the program's layout and snapshot caches: the
    * log replay (logged tables) and the layout build are separate spans.
    */
  def resolveCold(ctx: Ctx, dir: String, logged: Boolean): PjLayout = {
    PjParquetTable.clearLayoutCache()
    PjCommitLog.clearSnapshotCache()
    ctx.trace.span("table.resolve_cold") {
      if (logged) ctx.trace.span("log.replay_cold") {
        val p = new Path(dir)
        PjCommitLog.latest(p.getFileSystem(hconf), p)
      }
      val l = ctx.trace.span("table.layout_build")(PjParquetTable.resolveFiles(dir, ctx.conf, autogen = true))
      ctx.trace.attr("files", l.files.size.toDouble)
      l
    }
  }

  def resolveWarm(ctx: Ctx, dir: String): PjLayout =
    ctx.trace.span("table.resolve_warm") {
      val l = PjParquetTable.resolveFiles(dir, ctx.conf, autogen = true)
      ctx.trace.attr("files", l.files.size.toDouble)
      l
    }

  /** Runs a DataFrame action with the request's Spark work in one span. */
  def spark[T](ctx: Ctx, what: String)(body: => T): T = ctx.trace.span("spark." + what)(body)

  /** Files and bytes under a table's commit-log directory. */
  def logSize(root: Path): (Long, Long) = {
    val fs = root.getFileSystem(hconf)
    val st = fs.listStatus(PjCommitLog.logDir(root)).filter(_.isFile)
    (st.length.toLong, st.map(_.getLen).sum)
  }
}

/** Once per traced run, after the requests: calls every layer on the
  * workload's own input files, so each layer metric is measured on every
  * workload. A workload's own request spans take precedence over these.
  */
object LayerProbe {
  def run(ctx: Ctx, files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val dir = ctx.dir("probe")
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    val indexes = files.map { f =>
      val ip = new File(dir, new File(f).getName + ".index").getPath
      (f, ip)
    }
    for (_ <- 0 until 3; (f, ip) <- indexes) {
      Layers.stockFooter(ctx, f)
      Layers.indexBuild(ctx, f, ip)
    }
    for (_ <- 0 until 20; (_, ip) <- indexes) {
      val idx = Layers.indexLoad(ctx, ip)
      val h = idx.header
      val rgs = rng.shuffle((0 until h.rowGroups).toList).take(1 + rng.nextInt(math.min(4, h.rowGroups)))
      val cols = rng.shuffle((0 until h.columns).toList).take(1 + rng.nextInt(math.min(16, h.columns)))
      Layers.materialize(ctx, Layers.splice(ctx, idx, rgs.sorted, cols, Nil, schemaOnly = false))
    }

    // A logged table whose entries are the probe files' own entries,
    // repeated under synthetic paths (the data files need not exist: logged
    // planning reads only the log).
    val root = new Path(new File(dir, "log_table").getAbsolutePath)
    val fs = root.getFileSystem(ctx.conf)
    fs.mkdirs(PjCommitLog.logDir(root))
    val templates = indexes.map { case (f, ip) =>
      val bytes = java.nio.file.Files.readAllBytes(new File(ip).toPath)
      PjCommitLog.entryFromIndex(new File(f).getName, new File(f).length(), bytes)
    }
    val schema = Some(ctx.spark.read.parquet(files.head).schema.json)
    for (c <- 0 until 2 * PjCommitLog.CheckpointInterval) {
      val add = (0 until 100).map { i =>
        val t = templates((c * 100 + i) % templates.size)
        t.copy(path = f"k=${i % 7}/probe-$c%03d-$i%03d.parquet")
      }
      // all templates share one schema only when there is one file
      Layers.commit(ctx, PjCommitLog.commit(fs, root, "append", add, Set.empty,
        if (templates.size == 1) schema else None))
    }
    for (_ <- 0 until 5) Layers.latestWarm(ctx, root)
    for (_ <- 0 until 3) {
      PjCommitLog.clearSnapshotCache()
      ctx.trace.span("log.replay_cold")(PjCommitLog.latest(fs, root))
    }
    val (lf, lb) = Layers.logSize(root)
    ctx.facts.getOrElseUpdate("log.files", lf.toDouble)
    ctx.facts.getOrElseUpdate("log.bytes", lb.toDouble)
    ctx.facts.getOrElseUpdate("log.entries", PjCommitLog.latest(fs, root).get.entryMap.size.toDouble)
    if (templates.size == 1) {
      for (_ <- 0 until 3) Layers.resolveCold(ctx, root.toString, logged = true)
      for (_ <- 0 until 5) Layers.resolveWarm(ctx, root.toString)
    } else {
      for (_ <- 0 until 3; (f, _) <- indexes) Layers.resolveCold(ctx, f, logged = false)
      for (_ <- 0 until 5; (f, _) <- indexes) Layers.resolveWarm(ctx, f)
    }
  }
}

/** Reads the per-layer metrics off the spans, the ledger and the facts. */
object PerLayer {
  def compute(ctx: Ctx, done: Seq[Main.Done], put: (String, Double, String) => Unit): Unit = {
    val tr = ctx.trace
    def durs(n: String): Seq[Double] = tr.named(n).map(_.durNs.toDouble)
    def attrs(n: String, a: String): Seq[Double] = tr.named(n).flatMap(_.attrs.get(a))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

    put("core.index_build_ms", med(durs("core.index_build")) / 1e6, "ms")
    put("core.index_load_ms", med(durs("core.index_load")) / 1e6, "ms")
    put("core.splice_us", med(durs("core.splice")) / 1e3, "us")
    put("core.splice_alloc_bytes", med(attrs("core.splice", "alloc")), "B")
    put("core.splice_out_bytes", med(attrs("core.splice", "out")), "B")
    put("core.footer_keep_ratio", med(attrs("core.splice", "keep")), "ratio")
    put("core.materialize_us", med(durs("core.materialize")) / 1e3, "us")
    put("core.materialize_alloc_bytes", med(attrs("core.materialize", "alloc")), "B")
    put("ref.stock_footer_ms", med(durs("ref.stock_footer")) / 1e6, "ms")

    put("log.commit_ms", med(durs("log.commit")) / 1e6, "ms")
    put("log.checkpoint_commit_ms", med(durs("log.checkpoint_commit")) / 1e6, "ms")
    put("log.latest_warm_ms", med(durs("log.latest_warm")) / 1e6, "ms")
    put("log.replay_cold_ms", med(durs("log.replay_cold")) / 1e6, "ms")
    put("log.files", ctx.facts.getOrElse("log.files", 0.0), "count")
    put("log.bytes", ctx.facts.getOrElse("log.bytes", 0.0), "B")
    put("log.bytes_per_entry", ctx.facts.getOrElse("log.bytes", 0.0) /
      math.max(1.0, ctx.facts.getOrElse("log.entries", 1.0)), "B")

    // layout build = the cold resolve's self time (its duration minus the
    // log replay it contains)
    val cold = tr.named("table.resolve_cold")
    val replayIn = tr.all.filter(_.name == "log.replay_cold").groupBy(_.parent)
      .map { case (p, ss) => p -> ss.map(_.durNs).sum }
    put("table.resolve_cold_ms", med(cold.map(_.durNs.toDouble)) / 1e6, "ms")
    put("table.layout_build_ms",
      med(cold.map(s => (s.durNs - replayIn.getOrElse(s.id, 0L)).toDouble)) / 1e6, "ms")
    put("table.resolve_warm_ms", med(durs("table.resolve_warm")) / 1e6, "ms")
    put("table.files_resolved", med(attrs("table.resolve_cold", "files") ++
      attrs("table.resolve_warm", "files")), "count")

    val (scans, sums) = ctx.ledger.scanTotals
    val per = math.max(1L, scans).toDouble
    val planned = sums.getOrElse("pjFilesPlanned", 0L).toDouble
    val pruned = sums.getOrElse("pjFilesPruned", 0L).toDouble
    put("scan.count", scans.toDouble, "count")
    put("scan.files_planned", planned / per, "count")
    put("scan.files_pruned", pruned / per, "count")
    put("scan.row_groups_planned", sums.getOrElse("pjRowGroupsPlanned", 0L) / per, "count")
    put("scan.planned_bytes", sums.getOrElse("pjPlannedBytes", 0L) / per, "B")
    put("scan.file_keep_ratio", if (planned + pruned > 0) planned / (planned + pruned) else 0.0, "ratio")
    put("scan.rg_per_file",
      if (planned > 0) sums.getOrElse("pjRowGroupsPlanned", 0L) / planned else 0.0, "count")

    val perReq = done.map(d => d -> ctx.ledger.jobsOf(d.id))
    val withJobs = perReq.filter(_._2.nonEmpty)
    put("scan.plan_ms", med(withJobs.map { case (d, js) => (js.head.submitted - d.t0Ms).toDouble }), "ms")
    val n = math.max(1, done.size).toDouble
    put("exec.jobs", perReq.map(_._2.size).sum / n, "count")
    put("exec.stages", perReq.map(_._2.map(_.stages).sum).sum / n, "count")
    put("exec.tasks", perReq.map(_._2.map(_.tasks).sum).sum / n, "count")
    put("exec.task_ms", perReq.map(_._2.map(_.taskMs).sum).sum / n, "ms")
    put("exec.driver_gap_ms", med(withJobs.map { case (d, js) =>
      (d.t1Ms - d.t0Ms - Ledger.busyMs(js, d.t0Ms, d.t1Ms)).toDouble }), "ms")
    put("exec.shuffle_bytes", perReq.map(_._2.map(_.shuffleBytes).sum).sum / n, "B")
    put("exec.input_bytes", perReq.map(_._2.map(_.inputBytes).sum).sum / n, "B")

    // write requests: those with a `write.*` span (the workload knows the
    // files and bytes it added), else those whose tasks reported output
    val wspans = tr.all.filter(s => s.request >= 0 && s.name.startsWith("write."))
    val spanned = wspans.map(_.request).toSet
    val writes = perReq.filter { case (d, js) => spanned(d.id) || js.exists(_.outputBytes > 0) }
    val wn = math.max(1, writes.size).toDouble
    put("write.ops", writes.size.toDouble, "count")
    put("write.jobs", writes.map(_._2.size).sum / wn, "count")
    put("write.files_written", writes.map { case (d, js) =>
      if (spanned(d.id)) wspans.filter(_.request == d.id).flatMap(_.attrs.get("files")).sum
      else js.map(_.outputTasks).sum.toDouble
    }.sum / wn, "count")
    put("write.bytes_written", writes.map { case (d, js) =>
      if (spanned(d.id)) wspans.filter(_.request == d.id).flatMap(_.attrs.get("bytes")).sum
      else js.map(_.outputBytes).sum.toDouble
    }.sum / wn, "B")

    val self = tr.selfMsByLayer()
    self.toSeq.sortBy(_._1).foreach { case (l, ms) => put(s"self.${l}_ms", ms / n, "ms") }
  }
}
