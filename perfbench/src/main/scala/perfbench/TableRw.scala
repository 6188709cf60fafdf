package perfbench

import scala.collection.mutable

import graft.ext.Layout
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._

/** `table_rw`: a seeded keyed table `(k BIGINT, v BIGINT)` in the graft
  * format (manifest on `k`, generations on), read and written by one
  * client. Each cycle runs every write verb once, the three reads
  * before each (pruned key-range aggregate, full aggregate, `COUNT(*)`,
  * all through `format("graft")`), then maintenance:
  * `optimizeSelective` and `vacuumGenerations`.
  *
  * Every operation's parameters and every read's answer land in
  * `run.json`, so an independent model can replay the cycle and check
  * each answer; the final table is written out as plain parquet for
  * the same check. Byte counts come from listing the table directory
  * after each write: a file whose name is new was written by it.
  *
  * Set-up warms up with one cycle on a small table of its own (a
  * `warmUp` instance: `WarmRows` keys, each read shape once), so every
  * verb's code is compiled before the timed cycles and the measured
  * table starts as generated. */
final class TableRw(spark: SparkSession, seed: Long, out: String,
                    warmUp: Boolean = false) extends Main.Workload {
  import TableRw._

  private val rows = if (warmUp) WarmRows else InitialRows
  private val dir = s"$out/table_rw/${if (warmUp) "warm" else "t"}"
  private val fs: FileSystem = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private var nextKey: Long = rows
  /** name → size of every file under the table directory, as of the
    * end of the previous operation. */
  private var listing: Map[String, Long] = Map.empty
  /** Files the live manifest covered at the end of the previous operation. */
  private var liveNow: Long = 0L

  def queryNames: Seq[String] = Nil

  /** A cycle is 22 operations; two of them give the percentiles twice
    * the samples one would. */
  def minPasses: Int = 2

  /** The seed's term in every row's starting value, small enough that
    * no seed overflows the formula. */
  private val valueSalt: Long = Math.floorMod(seed, 1000003L) * 40503L

  /** The seeded value of row `k` at creation; the model uses the same
    * integer formula. */
  private def value0(k: org.apache.spark.sql.Column) =
    pmod(k * lit(2654435761L) + lit(valueSalt), lit(1000003L))

  private def create(): Unit = {
    val df = spark.range(0, rows, 1, InitialFiles).select(col("id").as("k"), value0(col("id")).as("v"))
    df.write.mode("overwrite").parquet(dir)
    Layout.buildFileManifest(spark, dir, Seq("k")).write.mode("overwrite").parquet(s"$dir/_graft_manifest")
    Layout.enableGenerations(spark, dir)
    listing = list()
    liveNow = liveFiles()
  }

  def setup(): Unit = {
    val warm = new TableRw(spark, seed, out, warmUp = true)
    warm.create()
    warm.pass("setup", -1, new Main.Client(spark))
    fs.delete(new Path(warm.dir), true)
    create()
    // and every read shape once on the measured table
    reads(-1).foreach { case (_, f) => f() }
    listing = list()
  }

  private def list(): Map[String, Long] = {
    val it = fs.listFiles(new Path(dir), true)
    val m = mutable.Map.empty[String, Long]
    while (it.hasNext) { val s = it.next(); m(s.getPath.getName) = s.getLen }
    m.toMap
  }

  /** Data files in the table directory, whether the manifest covers
    * them or not. */
  private def dataFiles(): Int =
    fs.listStatus(new Path(dir)).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Files the live manifest covers: its row count, from the parquet
    * footers, so counting starts no Spark job. */
  private def liveFiles(): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(new Path(s"$dir/_graft_manifest"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  private def graft(): DataFrame = spark.read.format("graft").load(dir)

  /** The three read shapes of pass `p`; each returns its answer. */
  private def reads(p: Int): Seq[(String, () => (DataFrame, Map[String, Double]))] = {
    val rng = new scala.util.Random(seed * 7919L + p * 31L + 1)
    // the cluster the cycle's delete_dv and upsert write to
    val (lo, hi) = inCluster(rng, 3 * p + 1, ReadWidth)
    Seq(
      "read_range" -> (() => {
        val df = graft().where(col("k").between(lo, hi))
          .agg(count(lit(1)).as("n"), coalesce(sum("v"), lit(0L)).as("s"))
        val r = df.collect()(0)
        (df, Map("lo" -> lo.toDouble, "hi" -> hi.toDouble,
          "n" -> r.getLong(0).toDouble, "s" -> r.getLong(1).toDouble))
      }),
      "read_full" -> (() => {
        val df = graft().agg(count(lit(1)).as("n"), coalesce(sum("v"), lit(0L)).as("s"))
        val r = df.collect()(0)
        (df, Map("n" -> r.getLong(0).toDouble, "s" -> r.getLong(1).toDouble))
      }),
      "read_count" -> (() => {
        val df = graft().groupBy().count()
        (df, Map("n" -> df.collect()(0).getLong(0).toDouble))
      }))
  }

  /** A key range of `width` keys at a seeded offset inside starting
    * cluster `c` (mod InitialFiles) of `rows / InitialFiles`
    * keys. The seed moves the keys but not which clusters an
    * operation touches, so a seed does not change how many files a
    * range reaches. */
  private def inCluster(rng: scala.util.Random, c: Int, width: Long): (Long, Long) = {
    val size = rows / InitialFiles
    val lo = Math.floorMod(c, InitialFiles) * size + (rng.nextDouble() * (size - width)).toLong
    (lo, lo + width - 1)
  }

  /** Files and rows the read's scans touched, from the executed plan. */
  private def scanStats(df: DataFrame): Map[String, Double] = {
    var files = 0.0
    var rows = 0.0
    ScanWalk.scans(df.queryExecution.executedPlan).foreach {
      case s: FileSourceScanExec =>
        files += s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
        rows += s.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
      case b: BatchScanExec =>
        b.scan match {
          case f: FileScan => files += f.fileIndex.inputFiles.length
          case _ =>
        }
        rows += b.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
      case _ =>
    }
    Map("files_read" -> files, "rows_read" -> rows)
  }

  private def lk(lo: Long, hi: Long) = Seq(Layout.KeyBox("k", lo, hi))

  /** Bytes of files that appeared since the previous listing. */
  private def written(): Map[String, Double] = {
    val now = list()
    val bytes = now.collect { case (n, len) if !listing.contains(n) => len }.sum
    listing = now
    liveNow = liveFiles()
    Map("bytes_written" -> bytes.toDouble, "live_files" -> liveNow.toDouble,
      "data_files" -> dataFiles().toDouble)
  }

  def pass(phase: String, p: Int, client: Main.Client): Unit = {
    val rng = new scala.util.Random(seed * 104729L + p)
    var i = 0
    def op[B](name: String, kind: String)(body: => B)(stats: B => Map[String, Double]): Unit = {
      client.run(phase, p, i, name, kind)(body)(identity) { b =>
        stats(b) ++ (if (kind == "read") Map.empty else written())
      }
      i += 1
    }
    def read(shape: (String, () => (DataFrame, Map[String, Double]))): Unit = {
      op(shape._1, "read")(shape._2()) { case (df, m) =>
        m ++ scanStats(df) + ("files_total" -> liveNow.toDouble) }
    }
    val readShapes = reads(p)
    def threeReads(): Unit = if (!warmUp || i == 0) readShapes.foreach(read)

    threeReads()
    val before1 = liveNow.toDouble
    val aLo = nextKey
    val aHi = nextKey + AppendRows - 1
    op("append", "write") {
      Layout.appendWithManifest(
        spark.range(aLo, aHi + 1, 1, 1).select(col("id").as("k"), value0(col("id")).as("v")),
        dir, Seq("k"))
    } { _ => Map("lo" -> aLo.toDouble, "hi" -> aHi.toDouble, "files_rewritten" -> 0.0,
      "files_untouched" -> before1) }
    nextKey = aHi + 1

    // each cycle writes to three clusters, three further on than the last
    threeReads()
    val (uLo, uHi) = inCluster(rng, 3 * p, UpdateWidth)
    val delta = 1L + rng.nextInt(1000)
    op("update", "write") {
      Layout.updateWhere(spark, dir, lk(uLo, uHi), Seq("v" -> (col("v") + lit(delta))))
    } { st => Map("lo" -> uLo.toDouble, "hi" -> uHi.toDouble, "delta" -> delta.toDouble,
      "files_rewritten" -> st.filesRewritten.toDouble, "files_untouched" -> st.filesUntouched.toDouble) }

    threeReads()
    val (dLo, _) = inCluster(rng, 3 * p + 1, DeleteWidth / 2 + UpsertStride * UpsertRows)
    val dHi = dLo + DeleteWidth - 1
    val before2 = liveNow.toDouble
    op("delete_dv", "write")(Layout.deleteWhereDv(spark, dir, lk(dLo, dHi))) { st =>
      Map("lo" -> dLo.toDouble, "hi" -> dHi.toDouble, "files_rewritten" -> 0.0,
        "files_untouched" -> (before2 - st.filesDropped - st.filesVectorized)) }

    threeReads()
    // the upsert starts halfway through the keys delete_dv removed: a
    // quarter of its keys re-insert deleted rows, the rest replace live ones
    val sLo = dLo + DeleteWidth / 2
    val salt = rng.nextInt(1000000).toLong
    op("upsert", "write") {
      val upd = spark.range(0, UpsertRows, 1, 1).select(
        (lit(sLo) + col("id") * lit(UpsertStride)).as("k"))
        .select(col("k"), pmod(col("k") * lit(40503L) + lit(salt), lit(1000003L)).as("v"))
      Layout.upsertByKey(spark, dir, upd, "k")
    } { st => Map("lo" -> sLo.toDouble, "stride" -> UpsertStride.toDouble,
      "rows" -> UpsertRows.toDouble, "salt" -> salt.toDouble,
      "files_rewritten" -> st.filesRewritten.toDouble, "files_untouched" -> st.filesUntouched.toDouble) }

    threeReads()
    val (xLo, xHi) = inCluster(rng, 3 * p + 2, DeleteWidth)
    val before4 = liveNow.toDouble
    op("delete", "write")(Layout.deleteWhere(spark, dir, lk(xLo, xHi))) { st =>
      Map("lo" -> xLo.toDouble, "hi" -> xHi.toDouble, "files_rewritten" -> st.filesRewritten.toDouble,
        "files_untouched" -> (before4 - st.filesDropped - st.filesRewritten)) }

    // `force`: compact the files under MinFileRows (each append and
    // upsert leaves one) even though no key's overlap depth has reached
    // the verb's own trigger, which clustered writes rarely reach; and
    // every FullCompactionEvery-th cycle every file counts as small, so
    // the whole table is rewritten into TargetFileRows-row files: the
    // rewrite verbs can merge the files they touch, and only this
    // bounds file size (a full `optimize` is the wedged verb, see
    // OptimizeWedge)
    val full = p % FullCompactionEvery == FullCompactionEvery - 1
    op("optimize_selective", "maint") {
      Layout.optimizeSelective(spark, dir, targetRows = TargetFileRows,
        minFileRows = if (full) Long.MaxValue else MinFileRows, force = true)
    } { st => Map("files_rewritten" -> (st.filesBefore - st.filesKept).toDouble,
      "files_untouched" -> st.filesKept.toDouble) }
    op("vacuum", "maint")(Layout.vacuumGenerations(spark, dir, retainLast = RetainGenerations)) {
      case (manifests, files) => Map("manifests_dropped" -> manifests.toDouble,
        "files_dropped" -> files.toDouble, "files_rewritten" -> 0.0) }
  }

  def finish(): Seq[(String, String)] = {
    // the final table, as read through the format, for the model check
    graft().coalesce(1).write.mode("overwrite").parquet(s"$out/table_rw/final")
    val d = Layout.describeLayout(spark, dir).collect()(0)
    val gen = d.getAs[Long]("generation")
    val oldest = d.getAs[Long]("oldest_gen")
    val onDisk = list().values.sum
    Seq("table" -> Json.nums(Seq(
      "initial_rows" -> rows.toDouble, "value_salt" -> valueSalt.toDouble,
      "live_files_end" -> d.getAs[Long]("n_files").toDouble,
      "live_rows_end" -> d.getAs[Long]("n_rows").toDouble,
      "dv_files_end" -> d.getAs[Long]("dv_files").toDouble,
      "generations_end" -> (gen - oldest + 1).toDouble,
      "uncovered_files_end" -> (dataFiles() - d.getAs[Long]("n_files")).toDouble,
      "bytes_on_disk_end" -> onDisk.toDouble)))
  }
}

object TableRw {
  val InitialRows = 2000000L
  /** The warm-up table: clusters of 30,000 keys hold every range. */
  val WarmRows = 240000L
  val InitialFiles = 8
  val ReadWidth = 20000L
  val AppendRows = 20000L
  val UpdateWidth = 20000L
  val DeleteWidth = 10000L
  val UpsertRows = 5000L
  val UpsertStride = 4L
  val TargetFileRows = 250000L
  val MinFileRows = 100000L
  val RetainGenerations = 4
  val FullCompactionEvery = 4
}

/** Leaf scans of an executed plan, through adaptive query stages. */
object ScanWalk extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case s: FileSourceScanExec => s
    case b: BatchScanExec => b
  }
}
