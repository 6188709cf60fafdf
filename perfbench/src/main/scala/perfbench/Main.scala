package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, QueryDef}
import graft.Verify.jsonStr
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side: one closed-loop client thread drives one
  * workload against a tuned local session and writes every operation
  * it timed, plus (traced) the per-layer aggregates and spans, to
  * `<out>/run.json` and `<out>/spans.json`. `perfbench/run.py` builds
  * this, launches it, checks the outputs and prints the metrics.
  *
  * {{{
  *   Main <workload> <seed> <seconds> <trace 0|1> <out dir> <data dir> <cores>
  * }}}
  */
object Main {

  /** A workload: set-up (inputs, fixtures, one untimed warm-up that
    * also captures what the correctness check needs), then passes. */
  trait Workload {
    def queryNames: Seq[String]
    /** Fewest passes an untraced `--trace 0` measurement times. */
    def minPasses: Int
    def setup(): Unit
    def pass(phase: String, p: Int, client: Client): Unit
    /** Extra `run.json` fields, written after the timed phases. */
    def finish(): Seq[(String, String)]
  }

  /** Times each call on the client thread. With a tracer installed it
    * also tags the call's jobs with a job group naming the operation
    * and the part of it (`build` or `exec`) that ran them. The `stats`
    * of a call run after its timing stops; `harnessMs` sums their time
    * so a phase's wall can leave it out. */
  final class Client(spark: SparkSession) {
    var tracer: Option[Tracer] = None
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var harnessMs = 0.0

    def run[A, B](phase: String, p: Int, i: Int, name: String, kind: String)(
        build: => A)(exec: A => B)(stats: B => Map[String, Double]): Option[B] = {
      val id = s"$phase-$p-$i-$name"
      val sc = spark.sparkContext
      def group(part: String): Unit =
        if (tracer.nonEmpty) sc.setJobGroup(s"$id|$part", name, interruptOnCancel = false)
      val t0 = Clock.nowMs
      var t1 = Double.NaN
      val res = try {
        group("build")
        val a = build
        t1 = Clock.nowMs
        // a DataFrame is analyzed when built, under its own tracker;
        // the listener only sees the executing command's phases
        a match {
          case df: DataFrame => tracer.foreach(_.record(df.queryExecution))
          case _ =>
        }
        group("exec")
        val b = exec(a)
        Right(b)
      } catch { case e: Throwable => Left(e) }
      finally if (tracer.nonEmpty) sc.clearJobGroup()
      val t2 = Clock.nowMs
      if (t1.isNaN) t1 = t2
      res match {
        case Right(b) =>
          val st = stats(b)
          ops += OpRec(id, name, kind, phase, p, t0, t1, t2, ok = true, "", st)
          harnessMs += Clock.nowMs - t2
          Some(b)
        case Left(e) =>
          val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
          System.err.println(s"[perfbench] $id failed: $msg")
          ops += OpRec(id, name, kind, phase, p, t0, t1, t2, ok = false, msg)
          None
      }
    }
  }

  val Relational: Seq[String] = Seq(
    "q_pricing_summary", "q_multiway_revenue", "q_topk_revenue", "q_right_join_compound",
    "q_join_range", "q_window_running", "q_topk_per_group", "q_json_extract",
    "q_join_bloom", "q_agg_cms", "q_ev_hourly", "q_ev_sessions", "q_ev_attribution",
    "q_sample_stratified", "cw_sql1", "cw_sql2", "cw_nosql1", "cw_nosql2")

  val LlmPipeline: Seq[String] = Seq(
    "q_pipeline_e2e", "q_dd_clusters", "q_dd_jaccard", "q_ir_bm25_batch",
    "q_sim_pq_ivf", "q_graph_pagerank_conv", "q_tx_bpe_incr", "q_ivm_join")

  /** Oracle-gated queries: the set-up pass writes each result under
    * `<out>/results/<name>` with the DuckDB oracle SQL beside it. Each
    * timed call collects its rows; after its timing stops they are
    * compared with the set-up result, and a call whose rows differ is
    * written under `<out>/results/calls/<op id>` for the same oracle
    * check, so every timed call's answer is checked. */
  final class QueryWorkload(spark: SparkSession, val queryNames: Seq[String],
                            dataDir: String, seed: Long, out: String) extends Workload {
    private val defs: Seq[QueryDef] = queryNames.map(n =>
      QueryDef.all.find(_.name == n).getOrElse(sys.error(s"no query named $n")))
    /** name → the set-up result's rows, canonical (as strings, sorted). */
    private val expected = mutable.Map.empty[String, Seq[String]]

    def minPasses: Int = 1

    private def canonical(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString).sorted

    private def save(rows: Array[Row], schema: StructType, path: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)

    private def order(p: Int): Seq[QueryDef] =
      new scala.util.Random(seed * 1000003L + p).shuffle(defs)

    def setup(): Unit = {
      val errors = mutable.LinkedHashMap.empty[String, String]
      order(-1).foreach { q =>
        // collected, then written: the query itself runs the plan the
        // timed passes run, so its generated code is what gets warm
        try {
          val df = q.fn(spark, dataDir)
          val rows = df.collect()
          save(rows, df.schema, s"$out/results/${q.name}")
          expected(q.name) = canonical(rows)
        }
        catch { case e: Throwable =>
          errors(q.name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        }
      }
      write(s"$out/results/_errors.json", Json.obj(errors.map { case (k, v) => k -> jsonStr(v) }))
      write(s"$out/results/oracle_sql.json",
        Json.obj(defs.flatMap(q => q.oracle.map(o => q.name -> jsonStr(o)))))
    }

    def pass(phase: String, p: Int, client: Client): Unit =
      order(p).zipWithIndex.foreach { case (q, i) =>
        client.run(phase, p, i, q.name, "query")(q.fn(spark, dataDir)) { df =>
          (df.collect(), df.schema)
        } { case (rows, schema) =>
          val same = expected.get(q.name).contains(canonical(rows))
          if (!same) save(rows, schema, s"$out/results/calls/$phase-$p-$i-${q.name}")
          Map("rows" -> rows.length.toDouble, "same_as_setup" -> (if (same) 1.0 else 0.0))
        }
      }

    def finish(): Seq[(String, String)] = Nil
  }

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), s)
  }

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, out, dataDir, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = GraftSession.tuned(
      SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = workload match {
      case "relational" => new QueryWorkload(spark, Relational, dataDir, seed, out)
      case "llm_pipeline" => new QueryWorkload(spark, LlmPipeline, dataDir, seed, out)
      case "table_rw" => new TableRw(spark, seed, out)
      case other => sys.error(s"unknown workload $other")
    }
    val sessionS = (Clock.nowMs - jvmStartMs) / 1e3
    w.setup()
    val setupS = (Clock.nowMs - jvmStartMs) / 1e3

    val client = new Client(spark)
    // a traced run's three phases share the run's seconds
    val phaseS = if (traced) seconds / 3 else seconds
    val minPasses = if (traced) 1 else w.minPasses
    var nextPass = 0
    /** Whole passes until `phaseS` have elapsed and at least `minPasses`
      * ran, so a phase's latencies cover every operation of a pass
      * equally often and the same seed repeats the same operations.
      * The wall leaves out the harness's own bookkeeping. */
    def timedPhase(phase: String): (Int, Double) = {
      val t0 = Clock.nowMs
      val h0 = client.harnessMs
      def elapsedMs = Clock.nowMs - t0 - (client.harnessMs - h0)
      val first = nextPass
      while (nextPass - first < minPasses || elapsedMs < phaseS * 1e3) {
        w.pass(phase, nextPass, client)
        nextPass += 1
      }
      (nextPass - first, elapsedMs / 1e3)
    }

    val phases = mutable.LinkedHashMap.empty[String, (Int, Double)]
    phases("untraced") = timedPhase("untraced")
    var layers = Map.empty[String, Double]
    var passCounts = Seq.empty[(Int, Map[String, Double])]
    if (traced) {
      val tr = new Tracer(spark)
      tr.install()
      client.tracer = Some(tr)
      val gc0 = gcMs()
      phases("traced") = timedPhase("traced")
      val gcS = (gcMs() - gc0) / 1e3
      val tracedOps = client.ops.filter(_.phase == "traced").toSeq
      val (m, perPass, spans) =
        Layers.aggregate(tr, tracedOps, phases("traced")._1, cores, w.queryNames)
      tr.uninstall()
      client.tracer = None
      layers = m ++ Map(
        "driver.gc_s" -> gcS / phases("traced")._1,
        "checkpoints.pinned_mb_end" ->
          spark.sparkContext.getRDDStorageInfo.map(_.memSize.toDouble).sum / 1e6)
      passCounts = perPass
      write(s"$out/spans.json", Json.arr(spans.map(Json.span)))
      // untraced again, so the tracing overhead is traced minus the mean
      // of the untraced phases on either side, cancelling warm-up drift
      phases("untraced_after") = timedPhase("untraced_after")
    }
    val extra = w.finish()

    write(s"$out/run.json", Json.obj(Seq(
      "workload" -> jsonStr(workload), "seed" -> seed.toString,
      "cores" -> cores.toString, "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "phases" -> Json.obj(phases.map { case (k, (n, s)) =>
        k -> Json.obj(Seq("passes" -> n.toString, "wall_s" -> Json.num(s))) }),
      "ops" -> Json.arr(client.ops.map(Json.op)),
      "layers" -> Json.nums(layers),
      "traced_passes" -> Json.arr(passCounts.map { case (p, c) =>
        Json.nums(Seq("pass" -> p.toDouble) ++ c) })) ++ extra))
    spark.stop()
  }
}
