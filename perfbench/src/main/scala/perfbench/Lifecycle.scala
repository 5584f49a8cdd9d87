package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.DedupIndex
import graft.sim.IvfIndex
import graft.streaming.StreamOps
import graft.text.PostingsIndex

import perfbench.Main.{Args, Op}

/** The `index-lifecycle` workload: writes beside reads on the three LSM
  * index families.
  *
  * A round is: write the base indexes (set-up), then an OPEN-LOOP ingest
  * phase in which seeded document and vector segments arrive as parquet
  * files on a fixed schedule and three streams admit them
  * (`StreamOps.growIndexStream`, `admitDocsStream`, `admitVectorsStream`),
  * then a CLOSED-LOOP phase that runs the seeded script of searches
  * interleaved with forget/delete, `compactTiered`, `compact`,
  * `PostingsIndex.merge` and `IvfIndex.retrain`. The inputs, the segment
  * schedule and the script come from `gen.py` under `data/life`. */
object Lifecycle {

  val FamilySteps: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("admit", "flag", "forget", "compact_tiered", "compact"),
    "text.postings" -> Seq("admit", "search", "forget", "compact_tiered",
      "compact", "merge"),
    "sim.ivf" -> Seq("admit", "search", "delete", "compact_tiered", "compact",
      "retrain"))

  val DocSchema = "doc_id LONG, text STRING"
  val VecSchema = "vec_id LONG, embedding ARRAY<FLOAT>"
  val SinkSchema = "doc_id LONG, dup_of LONG, common LONG, na LONG, nb LONG, batch_id LONG"
  val K = 5
  val Threshold = 0.5
  val ForgetBatch = 10000L

  /** Inputs of one round, as written by gen.py. */
  final class Inputs(spark: SparkSession, val dir: String) {
    private val script = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$dir/script.json"))
    val segments: Int = script.get("segments").asInt
    val intervalS: Double = script.get("interval_s").asDouble
    val userBytes: Long = script.get("user_bytes").asLong
    val steps: Seq[(String, Int)] = script.get("ops").elements().asScala
      .map(n => (n.get("step").asText, n.get("g").asInt)).toSeq
    private def pq(name: String, schema: String): DataFrame =
      spark.read.schema(schema).parquet(s"$dir/$name.parquet")
    val baseDocs: DataFrame = pq("base_docs", DocSchema)
    val baseVecs: DataFrame = pq("base_vecs", VecSchema)
    val shardB: DataFrame = pq("shard_b", DocSchema)
    val tokQueries: DataFrame = pq("tok_queries", "grp INT, qid LONG, tok STRING")
    val vecQueries: DataFrame = pq("vec_queries", "grp INT, " + VecSchema)
    val probes: DataFrame = pq("probes", "grp INT, " + DocSchema)
    val dedupForget: DataFrame = pq("dedup_forget", "doc_id LONG")
    val postForget: DataFrame = pq("post_forget", "doc_id LONG")
    val ivfDelete: DataFrame = pq("ivf_delete", "vec_id LONG")
    def segDocs: DataFrame = spark.read.schema(DocSchema).parquet(s"$dir/segments/docs")
    def segVecs: DataFrame = spark.read.schema(VecSchema).parquet(s"$dir/segments/vecs")
    def segFile(kind: String, i: Int): String = f"$dir/segments/$kind/seg_$i%05d.parquet"
  }

  /** Names and paths of one round's indexes and streams. */
  final class Round(a: Args, val r: Int) {
    val root = s"${a.runDir}/life/r$r"
    val dedup = s"lc${r}_dedup"
    val post = s"lc${r}_post"
    val postB = s"lc${r}_postb"
    val merged = s"lc${r}_merged"
    val ivf = s"lc${r}_ivf"
    def grow(f: String) = s"$root/grow_$f"
    def src(kind: String) = s"$root/src/$kind"
    def ck(f: String) = s"$root/ck/$f"
    val sink = s"$root/sink"
  }

  final case class RoundResult(ops: Seq[Op], loopWallS: Double,
      arrivalsMs: Seq[Long], lateS: Seq[Double],
      batches: Map[String, Map[Int, Long]], commitsMs: Map[String, Map[Long, Long]],
      queries: Map[String, java.util.UUID], firstTimedMs: Long, roundStartNs: Long) {
    /** Closed-loop calls plus the three admission streams. */
    def attempted: Int = ops.size + queries.size
  }

  def run(a: Args, jvmStartMs: Long): mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    var spark = Main.session(a, Main.cores)
    val layers = new Layers
    Main.attach(spark, layers)
    val tr = new Tracer(spark.sparkContext)

    // ---- set-up: session, one small job (class loading and code
    // generation of the first query), then the round's base indexes
    Main.warmup(spark)
    val in = new Inputs(spark, a.data("life"))
    val rd = new Round(a, 1)
    val res = round(spark, a, rd, in, tr, errors)
    out("setup_s") = (res.firstTimedMs - jvmStartMs) / 1e3
    out("passes") = Seq(res.loopWallS)
    out("ops") = res.ops.map(o => Map("name" -> o.name, "pass" -> 1,
      "lat_s" -> o.latS, "ok" -> o.ok))
    var attempted = res.attempted
    out("freshness_s") = freshness(res)
    out("generator_late_s") = res.lateS
    out("segments") = in.segments
    out("interval_s") = in.intervalS
    out("stream_batches") = res.batches.map { case (f, m) => f -> m.values.toSet.size }
    out("stored_bytes") = storedBytes(a, rd)
    out("user_bytes") = in.userBytes
    out("checks") = checks(spark, a, rd, in, res)

    if (a.trace) {
      // a traced round, then the same round on one core in a fresh
      // session. The untraced baseline is the measured round, the
      // process's first: the overhead also holds that round's extra
      // first-run cost, so it reads low.
      layers.recording = true; tr.on = true
      val m0 = System.currentTimeMillis()
      val traced = round(spark, a, new Round(a, 2), in, tr, errors)
      val m1 = System.currentTimeMillis()
      Main.drain(spark)
      layers.recording = false; tr.on = false
      val lm = Main.layerMetrics(layers, tr, (m1 - m0) / 1e3, m0, m1, Main.cores)
      // admission runs inside the streams' foreachBatch: its time is
      // each family stream's addBatch total
      for ((family, id) <- traced.queries)
        lm(s"$family.admit_s") = layers.batches.filter(_.query == id)
          .map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3
      lm("graft.tables_load_s") = 0.0
      lm("trace.overhead_s") = traced.loopWallS - res.loopWallS
      lm("trace.wall_traced_s") = traced.loopWallS
      lm("trace.wall_untraced_s") = res.loopWallS
      out("spans") = Main.spansJson(tr.all, traced.roundStartNs)
      spark.stop()
      spark = Main.session(a, 1)
      val one = round(spark, a, new Round(a, 3), new Inputs(spark, a.data("life")),
        new Tracer(spark.sparkContext), errors)
      attempted += traced.attempted + one.attempted
      lm("spark.parallel_speedup") = one.loopWallS / traced.loopWallS
      lm("trace.wall_1core_s") = one.loopWallS
      out("groups") = Map("lifecycle" -> Seq("spark.jobs", "spark.busy_share",
        "spark.s_per_job", "spark.driver_gap_s", "spark.parallel_speedup")
        .map(k => k -> lm(k)).toMap)
      out("layers") = lm
    }
    out("attempted") = attempted
    out("errors") = errors.toSeq
    spark.stop()
    out
  }

  def round(spark: SparkSession, a: Args, rd: Round, in: Inputs, tr: Tracer,
      errors: mutable.Buffer[String]): RoundResult = {
    val roundStartNs = System.nanoTime()
    // set-up: the base indexes and the second lexical shard, built
    // concurrently
    graft.api.Overlap.run(
      () => DedupIndex.write(in.baseDocs, rd.dedup),
      () => PostingsIndex.write(in.baseDocs, rd.post),
      () => PostingsIndex.write(in.shardB, rd.postB),
      () => IvfIndex.write(in.baseVecs, rd.ivf))
    Seq("docs", "vecs").foreach(k => new File(rd.src(k)).mkdirs())
    // stage every segment as a hidden file beside its destination, so
    // an arrival is one atomic rename
    for (k <- Seq("docs", "vecs"); i <- 0 until in.segments)
      Files.copy(Paths.get(in.segFile(k, i)), Paths.get(f"${rd.src(k)}/.seg_$i%05d"),
        StandardCopyOption.REPLACE_EXISTING)

    // ---- open-loop ingest
    def docStream = spark.readStream.schema(DocSchema).parquet(rd.src("docs"))
    val qs: Seq[(String, StreamingQuery)] = Seq(
      "dedup" -> tr.label("dedup.admit")(StreamOps.growIndexStream(spark,
        rd.dedup, rd.grow("dedup"), docStream, rd.sink, rd.ck("dedup"), Threshold)),
      "text.postings" -> tr.label("text.postings.admit")(StreamOps.admitDocsStream(
        spark, rd.post, rd.grow("text.postings"), docStream, rd.ck("text.postings"))),
      "sim.ivf" -> tr.label("sim.ivf.admit")(StreamOps.admitVectorsStream(spark,
        rd.ivf, rd.grow("sim.ivf"),
        spark.readStream.schema(VecSchema).parquet(rd.src("vecs")), rd.ck("sim.ivf"))))
    val first = System.currentTimeMillis() + 200
    val intervalMs = (in.intervalS * 1000).round
    val arrivals = (0 until in.segments).map(i => first + i * intervalMs)
    val late = arrivals.zipWithIndex.map { case (due, i) =>
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      for (k <- Seq("docs", "vecs"))
        Files.move(Paths.get(f"${rd.src(k)}/.seg_$i%05d"),
          Paths.get(f"${rd.src(k)}/seg_$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      (System.currentTimeMillis() - due) / 1e3
    }
    qs.foreach { case (f, q) =>
      try q.processAllAvailable()
      catch { case e: Throwable => errors += s"$f stream: ${firstLine(e)}" }
      q.stop()
    }
    val batches = qs.map { case (f, _) => f -> sourceBatches(rd.ck(f)) }.toMap
    val commits = qs.map { case (f, _) => f -> commitTimes(rd.ck(f)) }.toMap

    // ---- closed loop
    val t0 = System.nanoTime()
    val ops = in.steps.zipWithIndex.map { case ((step, g), i) =>
      val s = System.nanoTime()
      val ok = try { tr(step, i.toLong)(exec(spark, rd, in, step, g)); true }
      catch { case e: Throwable => errors += s"$step: ${firstLine(e)}"; false }
      spark.catalog.clearCache()
      Op(step, rd.r, i.toLong, (System.nanoTime() - s) / 1e9, ok)
    }
    RoundResult(ops, (System.nanoTime() - t0) / 1e9, arrivals, late, batches,
      commits, qs.map { case (f, q) => f -> q.id }.toMap, first, roundStartNs)
  }

  def exec(spark: SparkSession, rd: Round, in: Inputs, step: String, g: Int): Unit = {
    def grp(df: DataFrame) = df.filter(col("grp") === g).drop("grp")
    step match {
      case "dedup.flag" =>
        DedupIndex.flagAgainst(spark, rd.dedup, grp(in.probes), Threshold).collect()
      case "text.postings.search" =>
        PostingsIndex.searchGrown(spark, rd.post, rd.grow("text.postings"),
          grp(in.tokQueries), K).collect()
      case "sim.ivf.search" =>
        IvfIndex.searchGrown(spark, rd.ivf, rd.grow("sim.ivf"), grp(in.vecQueries), K).collect()
      case "dedup.forget" => DedupIndex.forget(spark, rd.grow("dedup"), in.dedupForget, ForgetBatch)
      case "text.postings.forget" =>
        PostingsIndex.forget(spark, rd.grow("text.postings"), in.postForget, ForgetBatch)
      case "sim.ivf.delete" => IvfIndex.delete(spark, rd.grow("sim.ivf"), in.ivfDelete, ForgetBatch)
      case "dedup.compact_tiered" => DedupIndex.compactTiered(spark, rd.dedup, rd.grow("dedup"))
      case "text.postings.compact_tiered" =>
        PostingsIndex.compactTiered(spark, rd.post, rd.grow("text.postings"))
      case "sim.ivf.compact_tiered" => IvfIndex.compactTiered(spark, rd.ivf, rd.grow("sim.ivf"))
      case "dedup.compact" => DedupIndex.compact(spark, rd.dedup, rd.grow("dedup"))
      case "text.postings.compact" => PostingsIndex.compact(spark, rd.post, rd.grow("text.postings"))
      case "sim.ivf.compact" => IvfIndex.compact(spark, rd.ivf, rd.grow("sim.ivf"))
      case "text.postings.merge" =>
        PostingsIndex.merge(spark,
          Seq(rd.post -> Some(rd.grow("text.postings")), rd.postB -> None), rd.merged)
      case "sim.ivf.retrain" => IvfIndex.retrain(spark, rd.ivf, rd.grow("sim.ivf"))
      case other => throw new IllegalArgumentException(s"unknown step $other")
    }
  }

  /** Segment index -> micro-batch id, from the file source's log in the
    * stream's checkpoint. */
  def sourceBatches(ck: String): Map[Int, Long] = {
    val Entry = "\"path\":\"[^\"]*seg_(\\d+)\\.parquet\".*?\"batchId\":(\\d+)".r
    val dir = new File(s"$ck/sources/0")
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap(l => Entry.findFirstMatchIn(l).map(m => m.group(1).toInt -> m.group(2).toLong))
      .toMap
  }

  /** Micro-batch id -> commit time: the mtime of its commit-log entry. */
  def commitTimes(ck: String): Map[Long, Long] =
    Option(new File(s"$ck/commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified()).toMap

  /** Seconds from each segment's scheduled arrival to the commit of the
    * micro-batch that admitted it, for every (stream, segment). */
  def freshness(res: RoundResult): Seq[Double] =
    for {
      (family, segToBatch) <- res.batches.toSeq
      (seg, batch) <- segToBatch.toSeq.sortBy(_._1)
      commit <- res.commitsMs(family).get(batch)
    } yield (commit - res.arrivalsMs(seg)) / 1e3

  /** Bytes on disk under the round's index tables and grow paths. */
  def storedBytes(a: Args, rd: Round): Long = {
    def du(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length
    val tables = Option(new File(s"${a.runDir}/warehouse").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"lc${rd.r}_"))
    (tables ++ FamilySteps.map(f => new File(rd.grow(f._1)))).map(du).sum
  }

  /** The two documented lifecycle invariants, as (got, expected) parquet
    * pairs for run.py to compare. Not timed.
    *  1. Search after compact / merge / retrain equals search over a
    *     fresh write of the live set.
    *  2. The streamed dedup flags equal a batch replay of
    *     `DedupIndex.flagAndAdmit` over the same segments, batched as
    *     the stream batched them. */
  def checks(spark: SparkSession, a: Args, rd: Round, in: Inputs,
      res: RoundResult): Seq[Map[String, Any]] = {
    val dir = s"${a.runDir}/check"
    def pair(name: String)(got: => DataFrame, exp: => DataFrame): () => Map[String, Any] =
      () => {
        Main.writeDf(got, s"$dir/$name/got")
        Main.writeDf(exp, s"$dir/$name/exp")
        Map("name" -> name, "got" -> s"$dir/$name/got", "exp" -> s"$dir/$name/exp")
      }
    val ids = Seq("doc_id")
    val allDocs = in.baseDocs.unionByName(in.segDocs)
    val probes = in.probes.drop("grp")
    val toks = in.tokQueries.drop("grp")
    val vecs = in.vecQueries.drop("grp")
    val flagged = spark.read.schema(SinkSchema).parquet(rd.sink).select("doc_id")
    val (fresh, replay) = (s"${rd.root}/fresh", s"${rd.root}/replay")
    // the four checks touch disjoint tables and paths: run them together
    graft.api.Overlap.all(Seq(
      // dedup: live = base + admitted survivors - forgotten
      pair("life_dedup_after_compact")(
        DedupIndex.flagAgainst(spark, rd.dedup, probes, Threshold), {
          DedupIndex.write(allDocs.join(flagged, ids, "left_anti")
            .join(in.dedupForget, ids, "left_anti"), s"${rd.dedup}_fresh")
          DedupIndex.flagAgainst(spark, s"${rd.dedup}_fresh", probes, Threshold)
        }),
      // postings: merged (compacted main + shard B) vs one fresh write
      pair("life_postings_after_merge")(
        PostingsIndex.search(spark, rd.merged, toks, K), {
          PostingsIndex.write(allDocs.join(in.postForget, ids, "left_anti")
            .unionByName(in.shardB), s"${rd.post}_fresh")
          PostingsIndex.search(spark, s"${rd.post}_fresh", toks, K)
        }),
      // ivf: retrained vs a fresh write of the live vectors
      pair("life_ivf_after_retrain")(
        IvfIndex.searchGrown(spark, rd.ivf, rd.grow("sim.ivf"), vecs, K), {
          IvfIndex.write(in.baseVecs.unionByName(in.segVecs)
            .join(in.ivfDelete, Seq("vec_id"), "left_anti"), s"${rd.ivf}_fresh")
          IvfIndex.searchGrown(spark, s"${rd.ivf}_fresh", fresh, vecs, K)
        }),
      // streamed flags vs a batch replay with the stream's own batching
      pair("life_stream_flags_vs_replay")(
        spark.read.schema(SinkSchema).parquet(rd.sink), {
          val table = s"${rd.dedup}_replay"
          DedupIndex.write(in.baseDocs, table)
          res.batches("dedup").toSeq.groupBy(_._2).toSeq.sortBy(_._1).foreach {
            case (batch, segs) =>
              val docs = spark.read.schema(DocSchema)
                .parquet(segs.map(s => in.segFile("docs", s._1)): _*)
              DedupIndex.flagAndAdmit(spark, table, s"$replay/grow", docs, batch,
                s"$replay/sink", Threshold)
          }
          spark.read.schema(SinkSchema).parquet(s"$replay/sink")
        })))
  }

  def firstLine(e: Throwable): String =
    String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.getClass.getName)
}
