package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.functions._

import graft.core.PalletJack
import graft.sources.pjparquet.PjParquetTable

/** The paper's regime: footers that dominate the file. Eight Spark-written
  * files of 200 row groups x (400 float columns + an int `rg_id`), 100 rows
  * per row group, each with a ~7 MB sidecar index, in one un-logged
  * pjparquet directory (one of the layout cache's 32 roots).
  *
  * Requests, in a fixed cycle: `metaPerScan` `meta_read`s (a seeded
  * 1-4 row group x 1-16 column selection through `PalletJack.readMetadata`,
  * or `readSchema`, from the on-disk sidecar, by index or by name) and one
  * `scan` (a pjparquet aggregate over all eight files keeping 1-16 columns
  * and an `rg_id` window of 1-8 groups, the sizes on a fixed schedule).
  */
final class WideMeta extends Workload {
  val files = 8
  val rowGroups = 200
  val floatCols = 400
  val rowsPerRg = 100
  /** Columns a scan may keep; the stock-reader reference covers these. */
  val scanCols = 16
  /** `meta_read`s per `scan`: the ratio of the two classes' median
    * latencies (4.9 ms and 399 ms on a 4-core host), so each class takes
    * about half of a cycle's request time and a faster splice moves the
    * cycle-wide figures (`ops_per_s`, `cpu_ms_per_op`) as much as an
    * equally faster scan.
    */
  val metaPerScan = 80

  private var dir: File = _
  private var parquets: IndexedSeq[String] = _
  private var colNames: IndexedSeq[String] = _
  private var scanPool: IndexedSeq[String] = _

  /** The stock footer, restricted to what a selection is checked against. */
  private final class FooterRef(val rows: Array[Long], val offsets: Array[Array[Long]],
      val sizes: Array[Array[Long]], val paths: Array[String]) extends Serializable {
    def this(md: ParquetMetadata) = this(
      md.getBlocks.asScala.map(_.getRowCount).toArray,
      md.getBlocks.asScala.map(_.getColumns.asScala.map(_.getStartingPos).toArray).toArray,
      md.getBlocks.asScala.map(_.getColumns.asScala.map(_.getTotalSize).toArray).toArray,
      md.getFileMetaData.getSchema.getColumns.asScala.map(_.getPath.mkString(".")).toArray)
  }
  private var refs: IndexedSeq[FooterRef] = _
  /** Per `rg_id`: row count and per-column hash sums, from `spark.read.parquet`. */
  private var scanRef: Map[Int, (Long, Map[String, Long])] = _

  def sidecar(p: String): String = PjParquetTable.hiddenSidecar(new Path(p)).toUri.getPath

  def prepare(ctx: Ctx): File = ctx.cached("wide")(d => write(ctx, d))

  def generate(ctx: Ctx): Unit = {
    val data = prepare(ctx)
    // hard links: this run's sidecars go beside them, not into the cache
    dir = ctx.dir("wide")
    parquets = data.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map { f =>
      val l = new File(dir, f.getName)
      java.nio.file.Files.createLink(l.toPath, f.toPath)
      l.getPath
    }.toIndexedSeq
    require(parquets.size == files, s"expected $files files, got ${parquets.size}")
    val in = new java.io.ObjectInputStream(new java.io.FileInputStream(new File(data, "reference.bin")))
    try {
      refs = in.readObject().asInstanceOf[IndexedSeq[FooterRef]]
      scanPool = in.readObject().asInstanceOf[IndexedSeq[String]]
      scanRef = in.readObject().asInstanceOf[Map[Int, (Long, Map[String, Long])]]
    } finally in.close()
    colNames = refs.head.paths.toIndexedSeq
  }

  /** The files, the stock footers restricted to what selections are
    * checked against, and per-`rg_id` hash sums from `spark.read.parquet`.
    */
  private def write(ctx: Ctx, d: File): Unit = {
    val spark = ctx.spark
    val rowsPerFile = rowGroups.toLong * rowsPerRg
    val df = spark.range(0L, files * rowsPerFile, 1L, files).select(
      (((col("id") % rowsPerFile) / rowsPerRg).cast("int").as("rg_id") +:
        (0 until floatCols).map(i => (rand(Inputs.DataSeed * 1000 + i) * 1000).cast("float").as(s"c$i"))): _*)
    // one file per partition; flushing every 100 rows gives 100-row groups.
    // 401 fields exceed the default whole-stage codegen width.
    val maxFields = spark.conf.get("spark.sql.codegen.maxFields")
    spark.conf.set("spark.sql.codegen.maxFields", "1000")
    val out = new File(d, "spark_out")
    df.write.mode("overwrite")
      .option("compression", "uncompressed")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.block.size", "1024")
      .option("parquet.block.size.row.check.min", rowsPerRg.toString)
      .option("parquet.block.size.row.check.max", rowsPerRg.toString)
      .parquet(out.getPath)
    spark.conf.set("spark.sql.codegen.maxFields", maxFields)
    out.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath, new File(d, f"wide-$i%02d.parquet").toPath)
      }
    org.apache.commons.io.FileUtils.deleteDirectory(out)
    val ps = d.listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toIndexedSeq
    val fr = ps.map(p => new FooterRef(Layers.stockFooter(ctx, p)))
    require(fr.forall(_.rows.length == rowGroups), "every file must have 200 row groups")
    val pool = new scala.util.Random(Inputs.DataSeed).shuffle(fr.head.paths.toIndexedSeq.filter(_ != "rg_id"))
      .take(scanCols)
    val stock = spark.read.parquet(ps: _*)
      .groupBy("rg_id")
      .agg(count(lit(1)).as("n"), pool.map(c => sum(hash(col(c)).cast("long")).as(c)): _*)
      .collect()
    val ref = stock.map { r =>
      r.getInt(0) -> (r.getLong(1), pool.zipWithIndex.map { case (c, i) => c -> r.getLong(2 + i) }.toMap)
    }.toMap
    val o = new java.io.ObjectOutputStream(new java.io.FileOutputStream(new File(d, "reference.bin")))
    try { o.writeObject(fr); o.writeObject(pool); o.writeObject(ref) } finally o.close()
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    parquets.foreach { p =>
      new File(sidecar(p)).delete()
      Layers.indexBuild(ctx, p, sidecar(p))
    }
    Layers.resolveCold(ctx, dir.getPath, logged = false)
    ctx.spark.read.format("pjparquet").load(dir.getPath).schema
  }

  def passLength: Int = metaPerScan + 1

  def request(ctx: Ctx, i: Long): Request = {
    val rng = ctx.rng
    if (i % passLength == metaPerScan) {
      // scan sizes step through a fixed schedule, so every run times the
      // same mix of column counts and window widths; the seed picks the
      // columns and where the window sits
      val c = (i / passLength).toInt
      val k = 1 + c * 7 % scanCols
      val w = 1 + c * 3 % 8
      val keep = rng.shuffle(scanPool).take(k)
      val lo = rng.nextInt(rowGroups - w + 1)
      Request("scan", () => scan(ctx, keep, lo, lo + w - 1))
    } else {
      val f = rng.nextInt(files)
      val rgs = rng.shuffle((0 until rowGroups).toList).take(1 + rng.nextInt(4))
      val cols = rng.shuffle(colNames.indices.toList).take(1 + rng.nextInt(16))
      val byName = rng.nextBoolean()
      val schemaOnly = rng.nextInt(4) == 0
      Request("meta_read", () => metaRead(ctx, f, rgs, cols, byName, schemaOnly))
    }
  }

  private def metaRead(ctx: Ctx, f: Int, rgs: Seq[Int], cols: Seq[Int], byName: Boolean,
      schemaOnly: Boolean): () => Boolean = {
    val ip = sidecar(parquets(f))
    val idx = if (byName) Nil else cols
    val names = if (byName) cols.map(colNames) else Nil
    val ref = refs(f)
    val wantPaths = cols.map(ref.paths(_))
    if (schemaOnly) {
      val schema =
        if (!ctx.trace.active) PalletJack.readSchema(ip, idx, names)
        else {
          val index = Layers.indexLoad(ctx, ip)
          Layers.materialize(ctx, Layers.splice(ctx, index, Nil, idx, names, schemaOnly = true))
            .getFileMetaData.getSchema
        }
      () => {
        val got = schema.getColumns.asScala.map(_.getPath.mkString(".")).toSeq
        ctx.check(got == wantPaths, s"readSchema columns $got != $wantPaths")
      }
    } else {
      val md =
        if (!ctx.trace.active) PalletJack.readMetadata(ip, rgs, idx, names)
        else {
          val index = Layers.indexLoad(ctx, ip)
          Layers.materialize(ctx, Layers.splice(ctx, index, rgs, idx, names, schemaOnly = false))
        }
      () => {
        val blocks = md.getBlocks.asScala.toIndexedSeq
        val ok = blocks.size == rgs.size && rgs.zip(blocks).forall { case (rg, b) =>
          val chunks = b.getColumns.asScala.toIndexedSeq
          b.getRowCount == ref.rows(rg) && chunks.size == cols.size &&
            cols.zip(chunks).forall { case (c, ch) =>
              ch.getPath.toDotString == ref.paths(c) &&
                ch.getStartingPos == ref.offsets(rg)(c) && ch.getTotalSize == ref.sizes(rg)(c)
            }
        }
        ctx.check(ok, s"readMetadata file $f rgs $rgs cols $cols differs from the stock footer")
      }
    }
  }

  private def scan(ctx: Ctx, keep: Seq[String], lo: Int, hi: Int): () => Boolean = {
    if (ctx.trace.active) Layers.resolveWarm(ctx, dir.getPath)
    val row = Layers.spark(ctx, "scan") {
      ctx.spark.read.format("pjparquet").load(dir.getPath)
        .where(col("rg_id").between(lo, hi))
        .agg(count(lit(1)), keep.map(c => sum(hash(col(c)).cast("long"))): _*)
        .head()
    }
    () => {
      val want = (lo to hi).map(scanRef)
      val n = want.map(_._1).sum
      val sums = keep.map(c => want.map(_._2(c)).sum)
      val ok = row.getLong(0) == n && keep.indices.forall(i => row.getLong(1 + i) == sums(i))
      ctx.check(ok, s"scan rg_id $lo..$hi of ${keep.mkString(",")} differs from spark.read.parquet")
    }
  }

  def probeFiles(ctx: Ctx): Seq[String] = parquets.take(2)

  override def report(ctx: Ctx): Seq[(String, Double)] = {
    val idx = parquets.map(p => new File(sidecar(p)).length()).sum.toDouble
    val data = parquets.map(p => new File(p).length()).sum.toDouble
    Seq("wide.index_bytes_ratio" -> idx / data, "wide.index_mb" -> idx / files / 1048576.0)
  }
}
