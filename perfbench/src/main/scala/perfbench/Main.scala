package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side: builds a Spark session the way `graft.Bench`
  * and `graft.Verify` do, runs one workload, and writes the raw
  * measurements (per-operation latencies, phase walls, set-up time,
  * peak RSS, and with `--trace 1` the per-layer counters and spans) to
  * `<run-dir>/result.json`. `perfbench/run.py` turns that file into the
  * printed metrics and checks the outputs it names.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <run-dir>`
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, runDir: String) {
    def data(name: String): String = s"$runDir/data/$name"
  }

  /** One timed operation of a closed loop; `id` is its span op id. */
  final case class Op(name: String, pass: Int, id: Long, latS: Double, ok: Boolean)

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(a: Args, threads: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.local.dir", s"${a.runDir}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = a.workload match {
      case "index-lifecycle" => Lifecycle.run(a, jvmStartMs)
      case "dataflow" => Queries.run(a, jvmStartMs)
    }
    out("rss_peak_mb") = rssPeakMb()
    Files.writeString(Paths.get(s"${a.runDir}/result.json"), Json(out))
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** One small job: the class loading and first code generation every
    * process pays once, kept out of the first timed operation. */
  def warmup(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    ()
  }

  /** Load every input table's frame and schema, as a first query would. */
  def loadTables(spark: SparkSession, dir: String): Unit =
    graft.GraftSession.TableNames.foreach(n => graft.Tables.t(spark, dir, n).schema)

  /** Write collected rows as parquet for the output check (outside any
    * timed region), four at a time. */
  def writeRows(spark: SparkSession, outputs: Seq[(String, StructType, Array[Row])]): Unit =
    outputs.grouped(4).foreach(g => graft.api.Overlap.all(g.map {
      case (path, schema, rows) => () =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
    }))

  def writeDf(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Per-layer counters of one traced phase, by the names BENCHMARK.json
    * lists. `wallS` is the phase's wall time on `threads` cores. */
  def layerMetrics(l: Layers, tr: Tracer, wallS: Double, t0Ms: Long,
      t1Ms: Long, threads: Int): mutable.LinkedHashMap[String, Any] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    val spans = tr.all
    val self = Tracer.selfTimes(spans)
    def spanSum(name: String): Double =
      spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
    m("ops.build_s") = spanSum("ops.build")
    m("ops.action_s") = spanSum("ops.action")
    m("catalyst.planning_s") = l.planningMs / 1e3
    m("catalyst.executions") = l.executions
    val js = l.jobs.values.filter(_.end >= 0).toSeq
    val jobUnion = Tracer.union(js.map(j => (j.start, j.end))) / 1e3
    val makespan =
      if (js.isEmpty) 0.0 else (js.map(_.end).max - js.map(_.start).min) / 1e3
    m("spark.jobs") = js.size
    m("spark.stages") = l.stages
    m("spark.tasks") = l.total.tasks
    m("spark.s_per_job") = if (js.isEmpty) 0.0 else wallS / js.size
    m("spark.makespan_s") = makespan
    m("spark.driver_gap_s") = math.max(0.0, (t1Ms - t0Ms) / 1e3 - jobUnion)
    m("spark.job_overlap") =
      if (makespan <= 0) 0.0 else js.map(j => j.end - j.start).sum / 1e3 / makespan
    m("spark.task_run_s") = l.total.runMs / 1e3
    m("spark.task_cpu_s") = l.total.cpuNs / 1e9
    m("spark.task_gc_s") = l.total.gcMs / 1e3
    m("spark.busy_share") = l.total.runMs / 1e3 / (threads * wallS)
    m("spark.shuffle_read_bytes") = l.total.shuffleRead
    m("spark.shuffle_write_bytes") = l.total.shuffleWrite
    m("spark.spill_bytes") = l.total.spill
    m("spark.output_bytes") = l.total.outBytes
    m("spark.output_files") = l.outputFiles
    for ((family, steps) <- Lifecycle.FamilySteps; step <- steps) {
      val name = s"$family.$step"
      m(s"${name}_s") = spanSum(name)
      m(s"${name}_bytes_written") = l.byLabel.get(name).map(_.outBytes).getOrElse(0L)
    }
    val bs = l.batches.toSeq
    def dur(k: String*): Double = bs.map(b => k.map(b.durations.getOrElse(_, 0L)).sum).sum / 1e3
    val fed = bs.filter(_.rows > 0)
    m("streaming.trigger_s") = dur("triggerExecution")
    m("streaming.add_batch_s") = dur("addBatch")
    m("streaming.plan_s") = dur("queryPlanning")
    m("streaming.offset_s") = dur("latestOffset", "getBatch")
    m("streaming.commit_s") = dur("walCommit", "commitOffsets")
    m("streaming.batches") = fed.size
    m("streaming.rows_per_batch") =
      if (fed.isEmpty) 0.0 else fed.map(_.rows).sum.toDouble / fed.size
    m("bench.self_s") = self.getOrElse("op", 0.0)
    m("spans") = spans.size
    m
  }

  /** The four numbers that say where a group of operations spent its
    * wall time: share of core time busy in tasks, seconds per job,
    * driver time outside any job, and (given the same operations' wall
    * on one core) the speed-up from the extra cores. */
  def groupAnswer(l: Layers, ops: Seq[Op], oneCoreS: Double, untracedS: Double,
      threads: Int): Map[String, Any] = {
    val ids = ops.map(_.id).toSet
    val js = l.jobs.values.filter(j => ids(j.op) && j.end >= 0).toSeq
    val wall = ops.map(_.latS).sum
    val gap = ops.map { o =>
      o.latS - Tracer.union(js.filter(_.op == o.id).map(j => (j.start, j.end))) / 1e3
    }.sum
    Map("ops" -> ops.size, "wall_s" -> wall, "spark.jobs" -> js.size,
      "spark.busy_share" -> js.map(_.runMs).sum / 1e3 / (threads * wall),
      "spark.s_per_job" -> (if (js.isEmpty) 0.0 else wall / js.size),
      "spark.driver_gap_s" -> math.max(0.0, gap),
      "spark.parallel_speedup" -> oneCoreS / untracedS)
  }

  /** Attach the benchmark's listeners to a session. */
  def attach(spark: SparkSession, l: Layers): Unit = {
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    spark.streams.addListener(l.streams)
  }

  def drain(spark: SparkSession): Unit = Bus.drain(spark.sparkContext)

  def spansJson(spans: Seq[Span], originNs: Long): Seq[Map[String, Any]] =
    spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "op" -> s.op, "start_s" -> (s.start - originNs) / 1e9,
      "end_s" -> (s.end - originNs) / 1e9))
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
