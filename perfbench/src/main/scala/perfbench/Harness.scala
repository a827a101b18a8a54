package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.etl.DiscogsReleases

/** The benchmark's JVM side: runs one workload as a closed-loop client
  * (the next op starts when the previous one ends) and writes what it
  * measured to the plan's output directory. `run.py` builds the plan,
  * checks the outputs and computes the metrics.
  *
  *   Harness <plan-file>      run a plan
  *   Harness --list <file>    write the query registry's names
  *
  * Output files: `summary.json` (set-up, calibration, verification
  * errors), `ops.jsonl` (one record per timed op, with the per-layer
  * metrics of traced ops) and, when tracing, `spans.jsonl`.
  */
object Harness {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()

  /** Epoch milliseconds on the monotonic clock. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--list") {
      Files.writeString(Paths.get(args(1)),
        SparkEntry.registry.map(_.name).mkString("", "\n", "\n"))
      return
    }
    require(args.length == 1, "usage: Harness <plan-file> | --list <file>")
    val plan = Plan.read(args(0))
    new File(plan.out).mkdirs()
    val spark = session(plan)
    try new Harness(plan, spark).run()
    finally spark.stop()
  }

  /** Bench's session settings, with every temporary path inside `out`. */
  def session(plan: Plan): SparkSession = {
    val work = new File(plan.out, "work").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${plan.cores}]")
      .appName(s"perfbench-${plan.workload}")
      .config("spark.sql.shuffle.partitions", plan.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.sizeOfNull", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  @volatile private var sink = 0L

  /** Seconds for a fixed integer loop: no Spark, no graft. */
  def jvmLoop(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    sink += acc
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds for a fixed `spark.range` aggregation: Spark, no graft. */
  def sparkJob(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, 4).selectExpr("sum(hash(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }
}

final class Harness(plan: Plan, spark: SparkSession) {
  import Harness._

  private val out = plan.out
  private val recorder: Option[Recorder] =
    if (plan.trace) Some(Recorder.install(spark)) else None
  private val opsFile = new PrintWriter(new File(out, "ops.jsonl"), "UTF-8")
  private val spansFile =
    if (plan.trace) Some(new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")) else None
  private val registry = SparkEntry.registry.map(q => q.name -> q).toMap
  private var opIndex = 0

  /** Median of 5 JVM loops and of 3 Spark jobs, plus the wall they took. */
  private def calibrate(): (Double, Double, Double) = {
    val t0 = System.nanoTime()
    val jvm = median(Seq.fill(5)(jvmLoop()))
    val job = median(Seq.fill(3)(sparkJob(spark)))
    (jvm, job, (System.nanoTime() - t0) / 1e9)
  }

  def run(): Unit = {
    val sessionS = (nowMs() - plan.launchMs) / 1000
    val (jvmStart, sparkStart, calibStartS) = calibrate()
    val warm0 = nowMs()
    val verifyErrors = plan.workload match {
      case "etl_releases" =>
        etlRound(pass = -1, traced = false)
        Map.empty[String, String]
      case _ => verifyQueries()
    }
    val firstOp = nowMs()
    val setupS = (firstOp - plan.launchMs) / 1000 - calibStartS

    plan.passes.zipWithIndex.foreach { case (order, p) =>
      val traced = plan.trace && p % 2 == 1
      order.foreach { name =>
        if (plan.workload == "etl_releases") etlRound(p, traced)
        else queryOp(name, p, traced)
      }
    }
    val timedS = (nowMs() - firstOp) / 1000
    val (jvmEnd, sparkEnd, _) = calibrate()
    val tables = if (plan.trace) tableLoads() else Nil
    opsFile.close()
    spansFile.foreach(_.close())

    Files.writeString(Paths.get(out, "summary.json"), Json.obj(Seq(
      "workload" -> plan.workload,
      "seed" -> plan.seed,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "warmup_s" -> (firstOp - warm0) / 1000,
      "timed_s" -> timedS,
      "cores" -> plan.cores,
      "calib" -> Seq(
        "calib.cpu_start_s" -> jvmStart, "calib.cpu_end_s" -> jvmEnd,
        "calib.spark_start_s" -> sparkStart, "calib.spark_end_s" -> sparkEnd),
      "tables" -> tables,
      "verify_errors" -> verifyErrors)) + "\n")
  }

  /** Untimed pass writing each sampled query's result the way
    * `graft.Verify` does, for the DuckDB comparison; it also warms the
    * session, so it counts towards set-up.
    */
  private def verifyQueries(): Map[String, String] = {
    val errors = mutable.LinkedHashMap[String, String]()
    plan.ops.foreach { name =>
      try query(name).run(spark, plan.data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/verify/$name")
      catch {
        case t: Throwable =>
          errors(name) = s"${t.getClass.getName}: ${t.getMessage}".take(500)
      }
    }
    val sql = plan.ops.flatMap(n => query(n).sql.map(s => n -> s.trim))
    Files.createDirectories(Paths.get(out, "verify"))
    Files.writeString(Paths.get(out, "verify", "oracle_sql.json"),
      Json.obj(sql) + "\n")
    errors.toMap
  }

  private def query(name: String) =
    registry.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `body` as one op; traced ops get their listener events, span
    * tree and per-layer metrics recorded.
    */
  private def op(name: String, pass: Int, traced: Boolean)
      (body: ArrayBuffer[Span] => Seq[(String, Any)]): Unit = {
    recorder.foreach { r =>
      BusDrain(spark.sparkContext)
      r.take()
      r.enabled = traced
    }
    val c0 = Counters.now()
    val children = ArrayBuffer[Span]()
    val t0 = nowMs()
    val (ok, error, parts) =
      try { val ps = body(children); (true, None, ps) }
      catch { case t: Throwable =>
        (false, Some(s"${t.getClass.getName}: ${t.getMessage}".take(500)), Nil) }
    val t1 = nowMs()
    val opSpan = Span("op", t0, t1, Seq("workload" -> plan.workload, "op" -> name,
      "pass" -> pass, "seed" -> plan.seed))
    val layers = recorder.filter(_ => traced && ok).map { r =>
      BusDrain(spark.sparkContext)
      r.enabled = false
      val ev = r.take()
      val blockBytes = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      val m = Layers.metrics(opSpan, children.toSeq, ev, Counters.now() - c0,
        Counters.heapAfterGcMb(), blockBytes, plan.cores)
      spansFile.foreach { f =>
        Layers.spans(opSpan, children.toSeq, ev).foreach { case (s, id, parent) =>
          f.println(Json.obj(Seq("op_index" -> opIndex, "id" -> id, "parent" -> parent,
            "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
        }
      }
      m
    }
    opsFile.println(Json.obj(Seq(
      "op_index" -> opIndex, "workload" -> plan.workload, "op" -> name,
      "pass" -> pass, "seed" -> plan.seed, "traced" -> traced, "ok" -> ok,
      "wall_s" -> (t1 - t0) / 1000, "error" -> error,
      "parts" -> parts, "layers" -> layers.getOrElse(Nil))))
    opsFile.flush()
    opIndex += 1
  }

  private def timed[T](children: ArrayBuffer[Span], name: String)(f: => T): T = {
    val t0 = nowMs()
    try f finally children += Span(name, t0, nowMs())
  }

  /** One query to the noop sink. Traced, it is split into building the
    * frame (`Q.run`), planning it, and executing it.
    */
  private def queryOp(name: String, pass: Int, traced: Boolean): Unit =
    op(name, pass, traced) { ch =>
      val q = query(name)
      if (traced) {
        val df = timed(ch, "ops.build")(q.run(spark, plan.data))
        timed(ch, "catalyst.plan")(df.queryExecution.executedPlan)
        timed(ch, "sink.exec")(noop(df))
      } else noop(q.run(spark, plan.data))
      Nil
    }

  /** One ETL op: the dump converted single-stream, then rechunked and
    * converted in parallel. Traced, the single-stream conversion is
    * preceded by parse-only and parse+project runs to the noop sink, so
    * parse, projection and encode times can be told apart.
    */
  private def etlRound(pass: Int, traced: Boolean): Unit =
    op("etl_round", pass, traced) { ch =>
      val single = s"$out/etl/single"
      val chunks = s"$out/etl/chunks"
      val chunked = s"$out/etl/chunked"
      if (traced) {
        timed(ch, "etl.parse")(noop(DiscogsReleases.read(spark, plan.dump)))
        timed(ch, "etl.transform")(noop(
          DiscogsReleases.transformReleases(DiscogsReleases.read(spark, plan.dump))))
      }
      val t0 = nowMs()
      timed(ch, "etl.run")(DiscogsReleases.run(spark, plan.dump, single))
      val t1 = nowMs()
      timed(ch, "etl.rechunk")(DiscogsReleases.rechunk(spark, plan.dump, chunks, plan.chunks))
      val t2 = nowMs()
      timed(ch, "etl.convert_chunked")(DiscogsReleases.run(spark, chunks, chunked))
      val t3 = nowMs()
      Seq("single_s" -> (t1 - t0) / 1000, "rechunk_s" -> (t2 - t1) / 1000,
        "chunked_s" -> (t3 - t2) / 1000)
    }

  /** Mean seconds per `Tables.load` on a fresh session (cold: listing
    * and footer read) and again on the same session (warm: memoized).
    */
  private def tableLoads(): Seq[(String, Any)] = {
    val s2 = spark.newSession()
    def pass(): Double = {
      val t0 = System.nanoTime()
      Tables.names.foreach(t => Tables.load(s2, plan.data, t))
      (System.nanoTime() - t0) / 1e9 / Tables.names.size
    }
    val cold = pass()
    val warm = median(Seq.fill(3)(pass()))
    Seq("tables.load_cold_s" -> cold, "tables.load_warm_s" -> warm)
  }
}
