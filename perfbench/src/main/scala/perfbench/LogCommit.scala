package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.sources.pjparquet.{PjCommitLog, PjParquetTable}

/** Writes beside reads on the commit log and table resolution, with almost
  * no codec or operator work. A logged pjparquet table pre-grown to 50,000
  * synthetic entries (data files absent, as the log-planning soak builds
  * them, in 37 partitions `k=0..36`) plus one real partition `k=999`.
  *
  * Requests, in a fixed cycle of twelve that adds ten versions: seven
  * 100-entry commit appends, two 10-victim conflict-validated `delete`
  * commits, one real 100-row DSv2 `append` into `k=999`, one `scan` (warm
  * resolve and a partition-pruned aggregate of `k=999`) and one `cold`
  * resolve after dropping the layout and snapshot caches, which is what a
  * fresh driver pays. The first commit of every cycle lands on the
  * checkpoint cadence (every 10th version) and pays the checkpoint in the
  * foreground: its class is `checkpoint`, the other six are `commit`.
  */
final class LogCommit extends Workload {
  val entries = 50000
  val partitions = 37
  /** Ten growth commits: the tenth pays the table's first (full) parquet
    * checkpoint, so the timed phase sees the steady incremental ones.
    */
  val growBatch = 5000
  val realPartition = 999L

  private var fs: FileSystem = _
  private var root: Path = _
  private var template: PjCommitLog.FileEntry = _
  private var schemaJson: Option[String] = None
  /** Live synthetic paths per partition, in the order deletes consume them. */
  private val live = mutable.Map.empty[Int, mutable.Queue[String]]
  private var expectedLive = 0L
  private var appends = 0L
  private var serial = 0L

  /** The grown history is built once; each run appends to its own copy. */
  def prepare(ctx: Ctx): File = ctx.cached("log")(grow(ctx, _))

  def generate(ctx: Ctx): Unit = {
    val data = prepare(ctx)
    val local = ctx.dir("log_table")
    org.apache.commons.io.FileUtils.copyDirectory(new File(data, "table"), local)
    root = new Path(local.getAbsolutePath)
    fs = root.getFileSystem(ctx.conf)
    val head = PjCommitLog.latest(fs, root).get
    template = head.entries.head
    schemaJson = head.dataSchemaJson
    synthPaths.foreach { p =>
      live.getOrElseUpdate(p.drop(2).takeWhile(_ != '/').toInt, mutable.Queue.empty) += p
    }
    expectedLive = entries
  }

  private def synthPaths: IndexedSeq[String] = {
    val rng = new scala.util.Random(Inputs.DataSeed)
    (0 until entries).map(i => f"k=${i % partitions}%d/part-${rng.nextInt(1 << 30)}%010d-$i%06d.parquet")
  }

  /** One real logged file supplies the entry template and data schema;
    * 50,000 synthetic entries then arrive in 5,000-entry commits.
    */
  private def grow(ctx: Ctx, d: File): Unit = {
    import ctx.spark.implicits._
    val seedDir = new File(d, "seed").getPath
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)
      .write.format("pjparquet").mode("overwrite").option("log.enabled", "true").save(seedDir)
    val sp = new Path(seedDir)
    val sfs = sp.getFileSystem(ctx.conf)
    val seed = PjCommitLog.latest(sfs, sp).get
    val t = new Path(new File(d, "table").getAbsolutePath)
    sfs.mkdirs(PjCommitLog.logDir(t))
    synthPaths.grouped(growBatch).foreach { chunk =>
      PjCommitLog.commit(sfs, t, "append", chunk.map(p => seed.entries.head.copy(path = p)), Set.empty,
        seed.dataSchemaJson)
    }
  }

  /** What a fresh driver does before serving this table: replay the log,
    * build the layout, resolve the DSv2 table, and append the first rows.
    */
  def setup(ctx: Ctx, rep: Int): Unit = {
    val l = Layers.resolveCold(ctx, root.toString, logged = true)
    ctx.check(l.files.size == expectedLive, s"setup resolve saw ${l.files.size} of $expectedLive")
    ctx.spark.read.format("pjparquet").load(root.toString).schema
    append(ctx)()
  }

  private def snapshotSize(): Long = PjCommitLog.latest(fs, root).get.entryMap.size.toLong

  private def checkLive(ctx: Ctx, what: String): () => Boolean = () => {
    val n = snapshotSize()
    ctx.check(n == expectedLive, s"after $what the log holds $n live entries, expected $expectedLive")
  }

  override def setupReps: Int = 5

  /** Small commits until the next one is due a checkpoint, so every cycle
    * starts on the cadence.
    */
  override def afterSetup(ctx: Ctx): Unit =
    while ((PjCommitLog.latest(fs, root).get.version + 1) % PjCommitLog.CheckpointInterval != 0)
      commit(ctx)()

  def passLength: Int = 12

  def request(ctx: Ctx, i: Long): Request = (i % 12).toInt match {
    case 0 => Request("checkpoint", () => commit(ctx))
    case 2 | 7 =>
      val p = partitions / 2 + ctx.rng.nextInt(partitions - partitions / 2)
      Request("delete", () => delete(ctx, p))
    case 4 => Request("append", () => append(ctx))
    case 5 => Request("scan", () => scan(ctx))
    case 9 => Request("cold", () => cold(ctx))
    case _ => Request("commit", () => commit(ctx))
  }

  /** Appends go to the lower half of the partitions, deletes retire files
    * of the upper half: a delete validates the commit before it as a
    * winner that touched none of its partitions, so it never conflicts.
    */
  private def commit(ctx: Ctx): () => Boolean = {
    val p = ctx.rng.nextInt(partitions / 2)
    val add = (0 until 100).map { j =>
      serial += 1
      template.copy(path = f"k=$p%d/part-bench-$serial%09d-$j%03d.parquet")
    }
    Layers.commit(ctx, PjCommitLog.commit(fs, root, "append", add, Set.empty, schemaJson))
    add.foreach(e => live(p) += e.path)
    expectedLive += add.size
    if (ctx.trace.active) Layers.latestWarm(ctx, root)
    checkLive(ctx, "a commit")
  }

  /** A DML-shaped commit: retire 10 files of one partition read at the
    * previous version, so the commit validates every winner since.
    */
  private def delete(ctx: Ctx, p: Int): () => Boolean = {
    val q = live(p)
    val victims = (0 until 10).map(_ => q.dequeue()).toSet
    val head = Layers.latestWarm(ctx, root).get.version
    Layers.commit(ctx, PjCommitLog.commit(fs, root, "delete", Nil, victims,
      operation = Some("delete"), readVersion = Some(head - 1),
      readPartitions = Some(Set(Seq(p.toString)))))
    expectedLive -= victims.size
    checkLive(ctx, "a delete")
  }

  /** A real DSv2 append of 100 rows into the real partition. */
  private def append(ctx: Ctx): () => Boolean = {
    val lo = appends * 100
    def real(): Map[String, Long] = PjCommitLog.latest(fs, root).get.entryMap.valuesIterator
      .filter(_.path.startsWith(s"k=$realPartition/")).map(e => e.path -> e.size).toMap
    val before = if (ctx.trace.active) real() else Map.empty[String, Long]
    val logBefore = if (ctx.trace.active) Layers.logSize(root)._2 else 0L
    ctx.trace.span("write.append") {
      ctx.spark.range(lo, lo + 100)
        .select(col("id"), col("id").cast("string").as("name"), lit(realPartition).as("k"))
        .coalesce(1)
        .write.format("pjparquet").mode("append").save(root.toString)
      if (ctx.trace.active) {
        // data files added, and their bytes plus the commit's log bytes
        val added = real() -- before.keys
        ctx.trace.attr("files", added.size.toDouble)
        ctx.trace.attr("bytes", (added.values.sum + Layers.logSize(root)._2 - logBefore).toDouble)
      }
    }
    appends += 1
    expectedLive += 1
    checkLive(ctx, "an append")
  }

  /** Warm resolve, then a partition-pruned aggregate of the real rows. */
  private def scan(ctx: Ctx): () => Boolean = {
    if (ctx.trace.active) Layers.resolveWarm(ctx, root.toString)
    val row = Layers.spark(ctx, "scan") {
      ctx.spark.read.format("pjparquet").load(root.toString)
        .where(col("k") === realPartition)
        .agg(count(lit(1)), sum(col("id")))
        .head()
    }
    () => {
      val n = appends * 100
      ctx.check(row.getLong(0) == n && row.getLong(1) == n * (n - 1) / 2,
        s"scan of k=$realPartition read ${row.getLong(0)} rows, expected $n")
    }
  }

  private def cold(ctx: Ctx): () => Boolean = {
    val files =
      if (ctx.trace.active) Layers.resolveCold(ctx, root.toString, logged = true).files.size
      else {
        PjParquetTable.clearLayoutCache()
        PjCommitLog.clearSnapshotCache()
        PjParquetTable.resolveFiles(root.toString, ctx.conf, autogen = true).files.size
      }
    () => ctx.check(files == expectedLive, s"cold resolve saw $files files, expected $expectedLive")
  }

  override def finalCheck(ctx: Ctx): Boolean = {
    val (files, bytes) = Layers.logSize(root)
    ctx.facts("log.files") = files.toDouble
    ctx.facts("log.bytes") = bytes.toDouble
    ctx.facts("log.entries") = expectedLive.toDouble
    checkLive(ctx, "the run")()
  }

  /** The real partition's data files carry sidecars written by the append. */
  def probeFiles(ctx: Ctx): Seq[String] =
    new File(root.toUri.getPath, s"k=$realPartition").listFiles()
      .map(_.getPath).filter(p => p.endsWith(".parquet") && !new File(p).getName.startsWith("."))
      .sorted.take(2).toSeq
}
