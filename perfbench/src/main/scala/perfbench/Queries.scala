package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import perfbench.Main.{Args, Op}

/** The `dataflow` workload: a closed loop from one client over a fixed
  * query list, in an order drawn from the seed. One operation is one
  * query: `SparkEntry.queries(n)(spark, dir)` (building the frame, which
  * runs any eager supersteps or writes) followed by `collect()`, which
  * materializes every column of every row. `count()` is never timed:
  * Catalyst prunes the computed columns under it.
  *
  * The list has three groups, reported apart in the traced run: the
  * pipelined operators, the superstep-bound iterations, and the
  * kernel-heavy text extraction and scrub queries. */
object Queries {

  // Seven of the twelve queries are sub-second relational ones, so the
  // median operation falls inside that cluster, not on the gap between it
  // and the slower iterate/corpus queries, where it would jump between
  // the two with noise.
  val groups: Seq[(String, Seq[String])] = Seq(
    // ops.Relational and ops.Events: TPC-H-style joins and aggregates,
    // DataSet operators, event-time sessions and as-of joins
    "relational" -> Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_volume",
      "q_cogroup", "q_cube", "q_topk_per_group", "q_sessions"),
    // bulk and delta iterations: cost is supersteps x per-superstep cost
    "iterate" -> Seq("q_connected_components", "q_kmeans"),
    // HTML extraction and PII scrub kernels, whose computed columns a
    // timed count() would prune away
    "corpus" -> Seq("q_html_extract", "q_pii_redact", "q_self_scrub"))

  /** Wall time of one pass on a 4-core box, to the nearest 10 s. */
  val PassSeconds = 10.0

  val groupOf: Map[String, String] =
    for ((g, names) <- groups.toMap; n <- names) yield n -> g

  type Out = (String, StructType, Array[Row])

  /** Run `order` once on the tables in `dir`. Returns the operations,
    * the pass's wall time and, if `keep`, every query's result. */
  def pass(spark: SparkSession, fns: Seq[(String, (SparkSession, String) => DataFrame)],
      dir: String, tr: Tracer, passIdx: Int, keep: Boolean,
      errors: mutable.Buffer[String]): (Seq[Op], Double, Seq[Out]) = {
    val kept = mutable.ArrayBuffer.empty[Out]
    val t0 = System.nanoTime()
    val ops = fns.zipWithIndex.map { case ((name, fn), i) =>
      val opId = passIdx * 1000L + i
      val s = System.nanoTime()
      val ok = try {
        tr("op", opId) {
          val df = tr("ops.build", opId)(fn(spark, dir))
          val rows = tr("ops.action", opId)(df.collect())
          if (keep) kept += ((name, df.schema, rows))
        }
        true
      } catch {
        case e: Throwable =>
          errors += s"$name: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
          false
      }
      // frames a lazy operator persisted for its own reuse are released
      // between queries, as graft.Bench does
      spark.catalog.clearCache()
      Op(name, passIdx, opId, (System.nanoTime() - s) / 1e9, ok)
    }
    (ops, (System.nanoTime() - t0) / 1e9, kept.toSeq)
  }

  def run(a: Args, jvmStartMs: Long): mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    val order = new scala.util.Random(a.seed).shuffle(groups.flatMap(_._2))
    val all = graft.SparkEntry.queries
    val missing = order.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val fns = order.map(n => n -> all(n))
    var spark = Main.session(a, Main.cores)
    val layers = new Layers
    Main.attach(spark, layers)
    val tr = new Tracer(spark.sparkContext)
    val main = a.data("main")

    // ---- set-up: tables, then one untimed pass (first-run class
    // loading, code generation and JIT of every query)
    val tl = System.nanoTime()
    Main.loadTables(spark, main)
    out("tables_load_s") = (System.nanoTime() - tl) / 1e9
    pass(spark, fns, main, tr, 0, keep = false, errors)

    // ---- timed closed loop: one pass per PassSeconds of --seconds. The
    // count is fixed by the argument, not by the clock, so a faster
    // commit runs the same work and yields the same number of samples.
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    val walls = mutable.ArrayBuffer.empty[Double]
    var kept: Seq[Out] = Nil
    for (p <- 1 to math.max(1, math.round(a.seconds / PassSeconds).toInt)) {
      val (o, w, k) = pass(spark, fns, main, tr, p, p == 1, errors)
      ops ++= o; walls += w
      if (k.nonEmpty) kept = k
    }
    out("setup_s") = setupS
    out("order") = order
    out("passes") = walls.toSeq
    out("ops") = ops.map(o => Map("name" -> o.name, "group" -> groupOf(o.name),
      "pass" -> o.pass, "lat_s" -> o.latS, "ok" -> o.ok))

    // ---- outputs for the oracle check (not timed)
    val oracle = graft.SparkEntry.oracleSql
    Main.writeRows(spark, kept.map { case (n, s, r) => (s"${a.runDir}/check/$n", s, r) })
    out("checks") = kept.map { case (n, _, _) =>
      Map("name" -> n, "got" -> s"${a.runDir}/check/$n", "sql" -> oracle.get(n))
    }

    if (a.trace) {
      // the traced pass follows the (already warm) timed passes
      val untracedOps = ops.toSeq.filter(_.pass == 1)
      val untraced = walls.head
      layers.recording = true; tr.on = true
      val m0 = System.currentTimeMillis()
      val (tracedOps, tracedWall, _) = pass(spark, fns, main, tr, 900, keep = false, errors)
      val m1 = System.currentTimeMillis()
      Main.drain(spark)
      layers.recording = false; tr.on = false
      val lm = Main.layerMetrics(layers, tr, tracedWall, m0, m1, Main.cores)
      lm("graft.tables_load_s") = out("tables_load_s")
      lm("trace.overhead_s") = tracedWall - untraced
      lm("trace.wall_traced_s") = tracedWall
      lm("trace.wall_untraced_s") = untraced
      // the same pass on one core, in a fresh session
      spark.stop()
      spark = Main.session(a, 1)
      Main.loadTables(spark, main)
      val (oneOps, oneCore, _) = pass(spark, fns, main, new Tracer(spark.sparkContext),
        950, keep = false, errors)
      lm("spark.parallel_speedup") = oneCore / untraced
      lm("trace.wall_1core_s") = oneCore
      def byGroup(os: Seq[Op], g: String) = os.filter(o => groupOf(o.name) == g)
      out("groups") = groups.map { case (g, _) =>
        g -> Main.groupAnswer(layers, byGroup(tracedOps, g),
          byGroup(oneOps, g).map(_.latS).sum,
          byGroup(untracedOps, g).map(_.latS).sum, Main.cores)
      }.toMap
      out("layers") = lm
      out("spans") = Main.spansJson(tr.all, t0)
    }
    // every pass runs every query once: warm-up, timed, and traced ones
    val passes = 1 + walls.size + (if (a.trace) 2 else 0)
    out("attempted") = passes * fns.size
    out("errors") = errors.toSeq
    spark.stop()
    out
  }

}
