package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Execution and driver floor: 12 registered queries, 4 from each of
  * `RelationalQueries`, `MetadataQueries` and `PipelineQueries`, over
  * synthetic tables shaped like the suite's sf0.01 data, where fixed
  * per-job costs dominate. Nine of the 12 are queries the roadmap names
  * (q32 q51 q60 q69 q80 q101 q104 q117 q137).
  *
  * One untimed warm pass (inside `setup_s`) pays first-plan codegen and the
  * once-per-JVM classifier fit of q60/q80; the timed phase then runs pairs
  * of passes, each in its own seeded shuffled order, one query per request. Each query
  * runs to a discarding sink that fingerprints its rows: in every pass, the
  * row count and an order-insensitive hash must equal the values stored for
  * the inputs' data seed in `query_mix.expected.tsv` (a resource of the
  * benchmark).
  */
final class QueryMix extends Workload {
  val sf = 0.01

  val relational = Seq("q01_pricing_summary", "q26_full_outer_join", "q42_sessionize",
    "q51_approx_percentile")
  val metadata = Seq("q60_bucketed_join", "q80_pjparquet_zordered_scan", "q101_merge_upsert",
    "q137_sql_maintenance")
  val pipeline = Seq("q32_minhash_neardup", "q69_dedup_clusters", "q104_pq_ann",
    "q117_span_dedup")
  val all: IndexedSeq[String] = (relational ++ metadata ++ pipeline).toIndexedSeq
  def family(q: String): String =
    if (relational.contains(q)) "relational" else if (metadata.contains(q)) "metadata" else "pipeline"

  private var sfDir: String = _
  /** (rows, hash) per query over the tables of `Inputs.DataSeed`. */
  private val expected: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/query_mix.expected.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split('\t')
      q -> (n.toLong, h.toLong)
    }.toMap finally in.close()
  }
  private var order: IndexedSeq[String] = IndexedSeq.empty
  val times = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]

  def prepare(ctx: Ctx): File = ctx.cached(s"sf$sf")(SynthTables.write(ctx.spark, _, sf, Inputs.DataSeed))

  def generate(ctx: Ctx): Unit = {
    val data = prepare(ctx)
    // queries write beside their inputs: each run reads a private copy
    val local = ctx.dir("sf")
    SynthTables.names.foreach { t =>
      java.nio.file.Files.copy(new File(data, s"$t.parquet").toPath, new File(local, s"$t.parquet").toPath)
    }
    sfDir = local.getAbsolutePath
  }

  override def setupReps: Int = 1
  override def warmCycles: Int = 0

  /** The warm pass: every query once, in registry order. */
  def setup(ctx: Ctx, rep: Int): Unit = {
    all.foreach { q =>
      val t0 = System.nanoTime()
      val (n, h) = run(ctx, q)
      cleanup(ctx, gc = q == all.last)
      System.err.println(f"[perfbench] warm $q%-34s ${(System.nanoTime() - t0) / 1e9}%6.2f s rows=$n")
      expect(ctx, q, n, h, "warm pass")
    }
  }

  private def expect(ctx: Ctx, q: String, n: Long, h: Long, when: String): Boolean = {
    val want = expected.get(q)
    ctx.check(want.contains((n, h)),
      s"$q in the $when gave rows=$n hash=$h, stored ${want.fold("nothing")(w => s"rows=${w._1} hash=${w._2}")}")
  }

  /** Two passes: every query is timed at least twice per run. */
  def passLength: Int = 2 * all.size

  def request(ctx: Ctx, i: Long): Request = {
    if (i % all.size == 0) order = ctx.rng.shuffle(all)
    val q = order((i % all.size).toInt)
    Request(family(q), () => {
      val t0 = System.nanoTime()
      val (n, h) = run(ctx, q)
      times.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      () => { cleanup(ctx, gc = (i + 1) % all.size == 0); expect(ctx, q, n, h, "timed pass") }
    })
  }

  /** Builds one query and runs it to the fingerprinting sink. */
  private def run(ctx: Ctx, q: String): (Long, Long) = {
    val df = Layers.spark(ctx, "query")(SparkEntry.queries(q)(ctx.spark, sfDir))
    Layers.spark(ctx, "execute")(Fingerprint.of(ctx.spark, df))
  }

  /** Untimed hygiene between queries: drop what the query cached. With
    * `gc` (after the last query of a pass), also collect, so garbage
    * promoted during one pass is not collected inside the next. A full
    * collection after every query made a run ~18 s longer (ten-run
    * medians of 67 s against 49 s on a 4-core host).
    */
  private def cleanup(ctx: Ctx, gc: Boolean): Unit = {
    ctx.spark.sqlContext.clearCache()
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    graft.sources.pjparquet.PjCommitLog.clearSnapshotCache()
    if (gc) System.gc()
  }

  def probeFiles(ctx: Ctx): Seq[String] =
    Seq("lineitem", "orders").map(t => new File(sfDir, s"$t.parquet").getPath)

  override def finalCheck(ctx: Ctx): Boolean = {
    times.toSeq.sortBy(-_._2.sum).foreach { case (q, ts) =>
      System.err.println(f"[perfbench] timed $q%-34s ${ts.mkString(" ")}")
    }
    true
  }

  override def report(ctx: Ctx): Seq[(String, Double)] = {
    val per = times.toSeq.map { case (q, ts) => q -> Stats.median(ts.toSeq) }
    per.sortBy(_._1).map { case (q, s) => s"query.${q}_s" -> s } ++
      Seq("relational", "metadata", "pipeline").map { f =>
        s"ops.${f}_p50_s" -> Stats.median(per.filter(p => family(p._1) == f).map(_._2))
      }
  }
}

/** A sink that discards rows after fingerprinting them: the row count and a
  * sum of per-row hashes (order-insensitive). Floating-point values are
  * rounded to 9 significant digits first, so the last-bit differences of
  * reassociated sums do not change the fingerprint.
  */
object Fingerprint {
  def of(spark: SparkSession, df: DataFrame): (Long, Long) = {
    val rows = spark.sparkContext.longAccumulator("perfbench.rows")
    val hash = spark.sparkContext.longAccumulator("perfbench.hash")
    val schema = df.schema
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, schema) }
      rows.add(n)
      hash.add(h)
    }
    (rows.sum, hash.sum)
  }

  private def rowHash(r: Row, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = h * 31 + valueHash(if (r.isNullAt(i)) null else r.get(i), schema(i).dataType)
      i += 1
    }
    scala.util.hashing.MurmurHash3.stringHash(h.toString).toLong
  }

  private def valueHash(v: Any, t: DataType): Long = (v, t) match {
    case (null, _) => 0x9e3779b9L
    case (d: Double, _) => roundedHash(d)
    case (f: Float, _) => roundedHash(f.toDouble)
    case (r: Row, s: StructType) => rowHash(r, s)
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) =>
      xs.foldLeft(7L)((acc, x) => acc * 31 + valueHash(x, et))
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.iterator.map { case (k, x) => valueHash(k, kt) * 31 + valueHash(x, vt) }.sum
    case (b: Array[Byte], _) => java.util.Arrays.hashCode(b).toLong
    case (x, _) => x.hashCode().toLong
  }

  private def roundedHash(d: Double): Long =
    if (d.isNaN || d.isInfinite || d == 0.0) java.lang.Double.hashCode(d + 0.0).toLong
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros().hashCode.toLong
}
