package perfbench

import graft.GraftSession
import graft.ext.Layout
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Reproduces the `Layout.optimize` defect that keeps full optimize
  * out of `table_rw`: on a generation-tracked table carrying deletion
  * vectors, `optimize(force = true)` throws from `buildFileManifest`'s
  * `_graft_dv` guard after the clustered copy has already moved in and
  * the old files were retired, so the next verb finds data files the
  * manifest does not cover. Prints one line per step; exits 0 when the
  * defect reproduces and 1 when it does not.
  *
  * {{{
  *   OptimizeWedge <scratch dir>
  * }}}
  */
object OptimizeWedge {
  def main(args: Array[String]): Unit = {
    val dir = s"${args(0)}/wedge"
    val spark = GraftSession.tuned(
      SparkSession.builder().master("local[2]").appName("graft-optimize-wedge"), 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 80000, 1, 8).select(col("id").as("k"), (col("id") * 3).as("v"))
      .write.mode("overwrite").parquet(dir)
    Layout.buildFileManifest(spark, dir, Seq("k")).write.mode("overwrite").parquet(s"$dir/_graft_manifest")
    Layout.enableGenerations(spark, dir)
    val dv = Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 199L)))
    println(s"deleteWhereDv: $dv")
    def step(name: String)(f: => Any): Boolean =
      try { println(s"$name: ok ${f}"); true }
      catch { case e: Throwable => println(s"$name: threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
    val optimized = step("optimize(force = true)")(Layout.optimize(spark, dir, files = 2, force = true))
    val rows = spark.read.format("graft").load(dir).count()
    println(s"rows through the manifest: $rows (expected ${80000 - 100})")
    val next = step("next verb: deleteWhere")(Layout.deleteWhere(spark, dir, Seq(Layout.KeyBox("k", 500L, 599L))))
    spark.stop()
    val reproduced = !optimized && !next
    println(if (reproduced) "defect reproduced" else "defect not reproduced")
    sys.exit(if (reproduced) 0 else 1)
  }
}
