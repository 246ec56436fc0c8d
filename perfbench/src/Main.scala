package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.{ArtifactLedger, LocalSession, SessionCaches, SparkEntry}
import graft.ext.Ingest
import graft.ingest.ConsumerPlan
import graft.streaming.StreamingStats

/** Command line, as passed on by run.py. `work` is the run's private
  * directory: checkpoints, sinks, results and the artifact store all live
  * under it and go away with it. `tables` holds analyst_mix's fixture
  * tables, which are only read.
  */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, smoke: Boolean, tables: String)

/** What a run hands back: operation tallies, check failures, the
  * end-to-end metrics, the per-layer metrics and the trace.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  val e2e = LinkedHashMap.empty[String, (Double, String)]
  val layer = LinkedHashMap.empty[String, (Double, String)]
  val trace = LinkedHashMap.empty[String, Any]
  def check(ok: Boolean, msg: => String): Unit = if (!ok && errors.size < 50) errors += msg
}

object Main {
  // the analyst mix: one or more queries per ROADMAP target family, each
  // with a DuckDB oracle; trimmed to what fits a run (see README)
  val Mix: Seq[String] = Seq(
    "q_domain_stats", "q1_pricing_summary", "q_bm25_topk", "q_pagerank", "q_hits", "q_rfm_segments")

  /** Every per-layer metric with its unit. Each workload fills the layers
    * it runs through; a layer a workload never enters reads 0 there.
    */
  val Layers: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.inputs_s" -> "s", "setup.freeze_s" -> "s",
    "stream.add_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.trigger_other_ms" -> "ms", "stream.source_rows_per_doc" -> "ratio",
    "batch.jobs" -> "count", "batch.stages" -> "count", "batch.tasks" -> "count",
    "batch.outside_jobs_ms" -> "ms", "batch.planning_ms" -> "ms", "batch.task_s" -> "s",
    "batch.shuffle_write_kb" -> "KB",
    "ingest.consumer_plan_ms" -> "ms", "streaming.batch_stats_ms" -> "ms",
    "ext.gate_against_ms" -> "ms",
    "query.jobs" -> "count", "query.outside_jobs_s" -> "s", "query.planning_s" -> "s",
    "query.task_s" -> "s", "query.shuffle_mb" -> "MB", "query.spill_mb" -> "MB",
    "query.gc_s" -> "s", "cold.jobs" -> "count", "cold.task_s" -> "s",
    "artifact.built" -> "count", "artifact.build_s" -> "s", "store.write_mb" -> "MB",
    "artifact.replay_s" -> "s", "mix.replay_s" -> "s",
    "pinned.mem_mb" -> "MB", "pinned.disk_mb" -> "MB")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def nowMs: Long = System.currentTimeMillis()

  def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median wall time of `reps` runs of `f`, in ms. */
  def timedMs(reps: Int)(f: => Unit): Double =
    median((1 to reps).map { _ => val t0 = System.nanoTime(); f; secondsOf(t0) * 1000 })

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv.get("smoke").contains("1"), kv("tables"))
    val r = new Result
    o.workload match {
      case "consumer_stats" => Streams.consumerStats(o, r)
      case "ingest_gate" => Streams.ingestGate(o, r)
      case "analyst_mix" => AnalystMix.run(o, r)
    }
    Layers.foreach { case (n, u) => if (!r.layer.contains(n)) r.layer(n) = (0.0, u) }
    def metrics(m: LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val out = Map("attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors.toSeq,
      "end_to_end" -> metrics(r.e2e), "per_layer" -> metrics(r.layer), "trace" -> r.trace.toMap)
    Files.writeString(Paths.get(o.work, "result.json"), Json(out))
  }

  /** Build the session, make the inputs, prepare the workload's consumer;
    * done `n` times with the session stopped in between, each part timed.
    * Returns the last session and preparation, which the run then uses.
    */
  def setUp[I, P](o: Opts, r: Result)(inputs: SparkSession => I)(prepare: (SparkSession, I) => P)
      : (SparkSession, I, P) = {
    val n = if (o.smoke) 1 else 5
    val parts = ArrayBuffer.empty[(Double, Double, Double)]
    var last: (SparkSession, I, P) = null
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val spark = LocalSession.build()
      val t1 = System.nanoTime()
      val in = inputs(spark)
      val t2 = System.nanoTime()
      val p = prepare(spark, in)
      val t3 = System.nanoTime()
      parts += (((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
      if (i < n) spark.stop() else last = (spark, in, p)
    }
    r.e2e("setup_s") = (median(parts.map(p => p._1 + p._2 + p._3).toSeq), "s")
    r.layer("setup.session_s") = (median(parts.map(_._1).toSeq), "s")
    r.layer("setup.inputs_s") = (median(parts.map(_._2).toSeq), "s")
    r.layer("setup.freeze_s") = (median(parts.map(_._3).toSeq), "s")
    last
  }

  /** Memory and disk held by cached or checkpointed blocks, in MB. */
  def pinned(spark: SparkSession, r: Result): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    r.layer("pinned.mem_mb") = (infos.map(_.memSize).sum / 1e6, "MB")
    r.layer("pinned.disk_mb") = (infos.map(_.diskSize).sum / 1e6, "MB")
  }

  def envelopeFrame(spark: SparkSession, o: Offered): DataFrame = {
    import spark.implicits._
    spark.createDataset(o.envelopes.toSeq).toDF()
  }

  /** The layer probes: ConsumerPlan and batchStats on a static frame of
    * one offered batch, timed from outside.
    */
  def probes(spark: SparkSession, r: Result, sample: Offered): Unit = {
    val env = envelopeFrame(spark, sample)
    r.layer("ingest.consumer_plan_ms") = (timedMs(5)(noop(ConsumerPlan(env))), "ms")
    val docs = ConsumerPlan(env).localCheckpoint()
    r.layer("streaming.batch_stats_ms") = (timedMs(5)(noop(StreamingStats.batchStats(docs, 0L))), "ms")
  }

  def writeSpans(r: Result, t: Tracer): Unit = {
    val spans = t.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    r.trace("spans") = spans
  }
}

/** consumer_stats and ingest_gate: a closed-loop backlog drain through a
  * MemoryStream, one offered batch per micro-batch; the next batch is
  * offered once the previous one's sink output commits.
  */
object Streams {
  import Main._

  final case class Batch(k: Int, startMs: Long, endMs: Long, seconds: Double, offered: Offered)

  /** Run the stream: two batches right after start (first_pass_s), then
    * `warmup` unmeasured batches while the JIT settles, then measured
    * batches until `seconds` have passed (at least `minOps`).
    */
  private def drive(o: Opts, r: Result, input: MemoryStream[Envelope],
                    writer: DataStreamWriter[Row], pool: IndexedSeq[Offered],
                    warmup: Int, minOps: Int, tracer: Option[Tracer]): Seq[Batch] = {
    val batches = ArrayBuffer.empty[Batch]
    val tStart = System.nanoTime()
    val q = writer.start()
    var k = 0
    var broken = false
    def offer(): Unit = {
      val off = pool(k % pool.size)
      val s = nowMs; val t0 = System.nanoTime()
      r.attempted += 1
      try {
        input.addData(off.envelopes.toSeq)
        q.processAllAvailable()
        batches += Batch(k, s, nowMs, secondsOf(t0), off)
        tracer.foreach(_.span(s"batch-$k", "workload", s"micro-batch $k", s, nowMs))
      } catch {
        case NonFatal(e) =>
          r.failed += 1; broken = true
          System.err.println(s"[perfbench] micro-batch $k failed: $e")
      }
      k += 1
    }
    try {
      while (k < 2 && !broken) offer()
      if (!broken) r.e2e("first_pass_s") = (secondsOf(tStart), "s")
      while (k < 2 + warmup && !broken) offer()
      val measureStart = System.nanoTime()
      while (!broken && (k - 2 - warmup < minOps || secondsOf(measureStart) < o.seconds)) offer()
      // what the sink holds while it runs: stopping the query releases
      // the gate's frozen artifacts
      pinned(q.sparkSession, r)
    } finally q.stop()
    batches.filter(_.k >= 2 + warmup).toSeq
  }

  /** End-to-end and (traced) per-layer figures of the measured batches.
    * A stream that broke reports no batch figures: the batches it did not
    * run would otherwise make them look better.
    */
  private def report(r: Result, measured: Seq[Batch], tracer: Option[Tracer]): Unit = {
    if (r.failed == 0) {
      r.e2e("op_p50_ms") = (median(measured.map(_.seconds * 1000)), "ms")
      r.e2e("work_per_s") = (measured.map(_.offered.valid).sum / measured.map(_.seconds).sum, "1/s")
    }
    tracer.foreach { t =>
      t.drain()
      val prog = measured.flatMap(b => Option(t.progress.get(b.k.toLong)))
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, key: String): Double =
        Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
      def med(key: String) = median(prog.map(dur(_, key)))
      r.layer("stream.add_batch_ms") = (med("addBatch"), "ms")
      r.layer("stream.query_planning_ms") = (med("queryPlanning"), "ms")
      r.layer("stream.wal_commit_ms") = (med("walCommit"), "ms")
      r.layer("stream.commit_offsets_ms") = (med("commitOffsets"), "ms")
      r.layer("stream.trigger_other_ms") = (median(prog.map { p =>
        val named = p.durationMs.keySet.toArray.map(_.toString).filter(_ != "triggerExecution")
        dur(p, "triggerExecution") - named.map(dur(p, _)).sum
      }), "ms")
      r.layer("stream.source_rows_per_doc") =
        (prog.map(_.numInputRows).sum.toDouble / measured.map(_.offered.envelopes.length).sum, "ratio")
      val w = measured.map(b => t.work(s"batch-${b.k}", b.startMs, b.endMs))
      r.layer("batch.jobs") = (median(w.map(_.jobs.toDouble)), "count")
      r.layer("batch.stages") = (median(w.map(_.stages.toDouble)), "count")
      r.layer("batch.tasks") = (median(w.map(_.tasks.toDouble)), "count")
      r.layer("batch.outside_jobs_ms") = (median(w.map(_.outsideMs)), "ms")
      r.layer("batch.planning_ms") = (median(w.map(_.planningMs)), "ms")
      r.layer("batch.task_s") = (median(w.map(_.taskMs / 1000.0)), "s")
      r.layer("batch.shuffle_write_kb") = (median(w.map(_.shuffleWriteB / 1000.0)), "KB")
    }
  }

  def consumerStats(o: Opts, r: Result): Unit = {
    val size = if (o.smoke) 100 else 1000
    val dir = o.work
    val (spark, pool, (input, writer)) = setUp(o, r) { _ =>
      (0 until 8).map(k => Gen.consumerBatch(o.seed, k, size))
    } { (spark, _) =>
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Envelope]
      (input, StreamingStats.statsSink(ConsumerPlan(input.toDF()), s"$dir/stats",
        s"$dir/stats_ckpt", triggerMs = 0L))
    }
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val t0 = nowMs
    val measured = drive(o, r, input, writer, pool, warmup = if (o.smoke) 0 else 40,
      minOps = if (o.smoke) 2 else 5, tracer)
    tracer.foreach(_.span("workload", "", "consumer_stats", t0, nowMs))
    report(r, measured, tracer)
    // checks, outside the timed window: every stats row against the
    // generator's own tallies of the batch offered as that micro-batch
    val offered = (0 until r.attempted.toInt - r.failed.toInt).map(k => k -> pool(k % pool.size)).toMap
    val rows = spark.read.parquet(s"$dir/stats").collect()
    r.check(rows.length == offered.size, s"stats rows ${rows.length} != batches ${offered.size}")
    rows.foreach { row =>
      val id = row.getAs[Long]("batch_id").toInt
      offered.get(id) match {
        case None => r.check(false, s"stats row for unknown batch $id")
        case Some(e) =>
          val size = row.getAs[scala.collection.Map[String, Long]]("size_stats")
          val got = (row.getAs[Long]("total_documents"),
            row.getAs[scala.collection.Map[String, Long]]("domains").toMap,
            size("nhỏ nhất"), size("lớn nhất"), size("trung bình"), size("tổng"))
          val want = (e.valid.toLong, e.domains, e.minLen, e.maxLen, e.totalLen / e.valid, e.totalLen)
          r.check(got == want, s"batch $id: stats $got != generator tallies $want")
      }
    }
    if (o.trace) { probes(spark, r, pool(0)); tracer.foreach(writeSpans(r, _)) }
    spark.stop()
  }

  def ingestGate(o: Opts, r: Result): Unit = {
    val size = if (o.smoke) 100 else 250
    val dir = o.work
    val (spark, (base, pool), (input, writer)) = setUp(o, r) { _ =>
      val base = Gen.baseCorpus(o.seed, if (o.smoke) 200 else 600)
      (base, (0 until 8).map(k => Gen.ingestBatch(o.seed, k, size, base)))
    } { case (spark, (base, _)) =>
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Envelope]
      val docs = ConsumerPlan(input.toDF()).select(col("filename").cast("long").as("doc_id"),
        col("content").as("text"), col("domain").as("source"))
      (input, Ingest.gateSink(docs, baseFrame(spark, base), s"$dir/gate", s"$dir/gate_ckpt", triggerMs = 0L))
    }
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val t0 = nowMs
    val measured = drive(o, r, input, writer, pool, warmup = if (o.smoke) 0 else 8,
      minOps = if (o.smoke) 2 else 5, tracer)
    tracer.foreach(_.span("workload", "", "ingest_gate", t0, nowMs))
    report(r, measured, tracer)
    // checks, outside the timed window
    val baseHashes = base.map(b => Gen.md5Nfc(b._2)).toSet
    val verdicts = spark.read.parquet(s"$dir/gate").collect()
    val byBatch = verdicts.groupBy(_.getAs[Long]("batch_id").toInt)
    val nBatches = r.attempted.toInt - r.failed.toInt
    r.check(byBatch.keySet.forall(_ < nBatches), s"verdicts for unknown batches ${byBatch.keySet}")
    val fired = scala.collection.mutable.Set.empty[String]
    (0 until nBatches).foreach { k =>
      val want = pool(k % pool.size).arrivals
      val got = byBatch.getOrElse(k, Array.empty[Row])
      val ids = got.map(_.getAs[Long]("doc_id"))
      r.check(ids.length == ids.distinct.length && ids.toSet == want.keySet,
        s"batch $k: ${ids.length} verdicts for ${want.size} arrivals with text")
      got.foreach { v =>
        val id = v.getAs[Long]("doc_id")
        val (url, exact, near) = (v.getAs[Boolean]("url_dup"), v.getAs[Boolean]("exact_dup"),
          v.getAs[Boolean]("near_dup"))
        val (cdc, quality, admitted) = (v.getAs[Double]("cdc_owned_frac"),
          v.getAs[Boolean]("quality_pass"), v.getAs[Boolean]("admitted"))
        want.get(id).foreach { a =>
          r.check(exact == baseHashes(Gen.md5Nfc(a.text)),
            s"batch $k doc $id (${a.kind}): exact_dup $exact disagrees with NFC-MD5 membership")
          if (a.kind == "copy")
            r.check(near && cdc == 1.0, s"batch $k doc $id: planted copy got near_dup $near, cdc $cdc")
          if (a.kind == "novel_oov")
            r.check(cdc == 0.0, s"batch $k doc $id: out-of-vocabulary doc got cdc $cdc")
        }
        r.check(!admitted || (!url && !exact && !near && cdc < 0.5 && quality),
          s"batch $k doc $id: admitted although a verdict failed")
        if (url) fired += "url_dup"; if (exact) fired += "exact_dup"; if (near) fired += "near_dup"
        if (cdc >= 0.5) fired += "cdc_owned"; if (!quality) fired += "quality_fail"
        if (admitted) fired += "admitted"
      }
    }
    Seq("url_dup", "exact_dup", "near_dup", "cdc_owned", "quality_fail", "admitted").foreach(f =>
      r.check(fired(f), s"verdict $f never fired: the arrivals no longer exercise every gate"))
    if (o.trace) {
      probes(spark, r, pool(0))
      val (u, c, b, ck) = graft.ext.IngestArtifacts.frozen(baseFrame(spark, base))
      val arrivals = ConsumerPlan(envelopeFrame(spark, pool(0))).select(
        col("filename").cast("long").as("doc_id"), col("content").as("text"),
        col("domain").as("source")).localCheckpoint()
      r.layer("ext.gate_against_ms") = (timedMs(5)(noop(Ingest.gateAgainst(arrivals, u, c, b, ck))), "ms")
      tracer.foreach(writeSpans(r, _))
    }
    spark.stop()
  }

  private def baseFrame(spark: SparkSession, base: Array[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    base.toSeq.toDF("doc_id", "text", "source")
  }
}

/** analyst_mix: one closed-loop client running the registered queries as
  * noop-format writes, in a cold pass, a store-replay pass and warm rounds.
  */
object AnalystMix {
  import Main._

  type Timed = (String, Long, Long, Double)

  /** Wall time of a warm round priced query by query: each query at its
    * median over `passes`, so one slow or one lucky execution does not move
    * it. None unless every query of the mix ran in every pass.
    */
  def medianSum(passes: Seq[Seq[Timed]]): Option[Double] = {
    val byQuery = passes.flatten.groupBy(_._1.split('/')(1))
    if (passes.exists(_.size != Mix.size) || byQuery.keySet != Mix.toSet) None
    else Some(byQuery.values.map(ts => median(ts.map(_._4).toSeq)).sum)
  }

  def run(o: Opts, r: Result): Unit = {
    val tables = o.tables
    // the inputs are the fixture tables and the seeded query order of
    // each warm round
    val (spark, orders, _) = setUp(o, r) { _ =>
      val rnd = new Random(o.seed)
      Iterator.continually(rnd.shuffle(Mix))
    }((_, _) => ())
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val t0w = nowMs
    // one timed query; a failure is counted and the run goes on
    def query(pass: String, name: String): Option[Timed] = {
      val op = s"$pass/$name"
      spark.sparkContext.setJobGroup(op, op)
      r.attempted += 1
      val s = nowMs; val t0 = System.nanoTime()
      try {
        noop(SparkEntry.queries(name)(spark, tables))
        val secs = secondsOf(t0)
        tracer.foreach(_.span(op, pass, name, s, nowMs))
        Some((op, s, nowMs, secs))
      } catch {
        case NonFatal(e) =>
          r.failed += 1
          System.err.println(s"[perfbench] $op failed: $e")
          None
      } finally spark.sparkContext.clearJobGroup()
    }
    def pass(name: String, order: Seq[String]) = {
      val s = nowMs; val t0 = System.nanoTime()
      val qs = order.flatMap(query(name, _))
      tracer.foreach(_.span(name, "workload", name, s, nowMs))
      (secondsOf(t0), qs)
    }
    // cold and replay keep the listed order, so the artifact build or load
    // each query pays is the same on every seed
    ArtifactLedger.reset()
    val (coldS, coldQs) = pass("cold", Mix)
    val coldLedger = ArtifactLedger.snapshot
    if (coldQs.size == Mix.size) r.e2e("first_pass_s") = (coldS, "s")
    r.layer("artifact.built") = (coldLedger.size.toDouble, "count")
    r.layer("artifact.build_s") = (coldLedger.values.sum, "s")
    r.layer("store.write_mb") = (du(new File(o.work, "store")) / 1e6, "MB")
    // replay: every pin dropped, so each artifact loads back from the store
    SessionCaches.clearAll(spark)
    ArtifactLedger.reset()
    val (replayS, replayQs) = pass("replay", Mix)
    if (replayQs.size == Mix.size) r.e2e("work_per_s") = (Mix.size / replayS, "1/s")
    r.layer("mix.replay_s") = (replayS, "s")
    r.layer("artifact.replay_s") = (ArtifactLedger.snapshot.values.sum, "s")
    // at least four rounds, which on this mix take longer than a run's
    // seconds, so each query's median is nearly always taken over the same
    // number of executions
    val rounds = ArrayBuffer.empty[Seq[Timed]]
    val minRounds = if (o.smoke) 1 else 4
    val t0 = System.nanoTime()
    while (rounds.size < minRounds || secondsOf(t0) < o.seconds)
      rounds += pass(s"warm${rounds.size + 1}", orders.next())._2
    medianSum(rounds.toSeq).foreach(s => r.e2e("op_p50_ms") = (s * 1000, "ms"))
    tracer.foreach(_.span("workload", "", "analyst_mix", t0w, nowMs))
    pinned(spark, r)
    tracer.foreach { t =>
      t.drain()
      def w(qs: Seq[Timed]) = qs.map(q => q._1 -> t.work(q._1, q._2, q._3))
      val cold = w(coldQs).map(_._2)
      r.layer("cold.jobs") = (cold.map(_.jobs).sum.toDouble, "count")
      r.layer("cold.task_s") = (cold.map(_.taskMs).sum / 1000.0, "s")
      val perRound = rounds.map(w).toSeq
      def med(f: OpWork => Double) = median(perRound.map(_.map(q => f(q._2)).sum))
      r.layer("query.jobs") = (med(_.jobs.toDouble), "count")
      r.layer("query.outside_jobs_s") = (med(_.outsideMs / 1000), "s")
      r.layer("query.planning_s") = (med(_.planningMs / 1000), "s")
      r.layer("query.task_s") = (med(_.taskMs / 1000.0), "s")
      r.layer("query.shuffle_mb") = (med(_.shuffleWriteB / 1e6), "MB")
      r.layer("query.spill_mb") = (med(_.spillB / 1e6), "MB")
      r.layer("query.gc_s") = (med(_.gcMs / 1000.0), "s")
      r.trace("queries") = perRound.head.map { case (op, q) => op -> Map(
        "jobs" -> q.jobs, "stages" -> q.stages, "tasks" -> q.tasks, "task_s" -> q.taskMs / 1000.0,
        "outside_jobs_s" -> q.outsideMs / 1000, "planning_s" -> q.planningMs / 1000,
        "shuffle_mb" -> q.shuffleWriteB / 1e6, "spill_mb" -> q.spillB / 1e6,
        "gc_s" -> q.gcMs / 1000.0) }.toMap
      probes(spark, r, Gen.consumerBatch(o.seed, 0, 1000))
      // the gate against a base frozen from the fixture documents, split
      // as q_ingest_gate splits them (every fourth doc arrives)
      val docs = graft.Tables.documents(spark, tables)
      val (u, c, b, k) = graft.ext.IngestArtifacts.frozen(docs.filter(col("doc_id") % 4 =!= 0))
      val arrivals = docs.filter(col("doc_id") % 4 === 0).localCheckpoint()
      r.layer("ext.gate_against_ms") = (timedMs(5)(noop(Ingest.gateAgainst(arrivals, u, c, b, k))), "ms")
      writeSpans(r, t)
    }
    // results for the DuckDB oracle comparison, outside every timed window
    Mix.foreach { name =>
      try SparkEntry.queries(name)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"${o.work}/results/$name")
      catch { case NonFatal(e) => r.check(false, s"$name: result dump failed: $e") }
    }
    Files.writeString(Paths.get(o.work, "oracle_sql.json"),
      Json(Mix.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap))
    spark.stop()
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(du).sum
    else if (f.isFile) f.length else 0L
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => Gen.json(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Gen.json(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case x => Gen.json(x.toString)
  }
}
