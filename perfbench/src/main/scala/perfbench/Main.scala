package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Timed-phase outcome: wall seconds, each worker's seconds from the
  * start to its own last completed operation, GC ms spent inside the
  * phase, and the heap still in use after a full GC at its end.
  */
final case class Timed(seconds: Double, workerSeconds: IndexedSeq[Double], gcMs: Long, heapMb: Double) {

  /** Sum of per-worker rates: each worker's count over its own active
    * time, so the operation in flight at the deadline is not a step.
    */
  def rate(counts: IndexedSeq[Double]): Double =
    counts.indices.map(i => counts(i) / workerSeconds(i)).sum
}

/** One run's context. */
final class Env(
    val spark: SparkSession,
    val tracer: Tracer,
    val listener: Option[EngineListener],
    val work: Path,
    val seed: Long,
    val seconds: Int,
    val clients: Int,
    val studies: Int,
    val docs: Int,
    val setupRounds: Int,
    val sessionS: Double) {

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run `threads` closed-loop workers for `seconds`; each gets its index
    * and a stop signal. Set-up spans recorded so far are dropped, so the
    * trace covers the timed phase only.
    */
  def timed(threads: Int)(body: (Int, () => Boolean) => Unit): Timed = {
    listener.foreach(l => Trace.drain(l, tracer))
    tracer.spans.clear()
    listener.foreach(_.reset())
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val stop = () => System.nanoTime() >= deadline
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ends = new Array[Long](threads)
    val ts = (0 until threads).map { i =>
      val t = new Thread(() =>
        try body(i, stop) catch { case e: Throwable => errors.add(e) }
        finally ends(i) = System.nanoTime(), s"client-$i")
      t.start()
      t
    }
    ts.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    val gc = gcMs - gc0
    listener.foreach(l => Trace.drain(l, tracer))
    if (!errors.isEmpty) throw errors.peek()
    // the context cleaner frees shuffle and broadcast blocks after a GC
    // finds them unreachable; let it run between collections
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Timed(secs, ends.toIndexedSeq.map(e => (e - t0) / 1e9), gc, heap)
  }
}

object Env {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Metric names, units and directions — the list BENCHMARK.json
  * declares. Every run reports all of one list.
  */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("throughput_per_s", "1/s", "higher"),
    M("p50_ms", "ms", "lower"),
    M("retained_heap_mb", "MB", "lower"))

  val Verbs: Seq[String] = Seq(
    "Identify", "ListMetadataFormats", "ListSets", "GetRecord", "ListRecords", "ListIdentifiers")

  val PerLayer: Seq[M] = Seq(
    M("protocol.self_ms", "ms", "lower"),
    M("protocol.response_kb", "KB", "lower")) ++
    Verbs.map(v => M(s"protocol.${v}_p50_ms", "ms", "lower")) ++ Seq(
    M("query.page_ms", "ms", "lower"),
    M("query.flags_ms", "ms", "lower"),
    M("query.studies_ms", "ms", "lower"),
    M("spark.jobs_per_request", "count", "lower"),
    M("spark.tasks_per_request", "count", "lower"),
    M("spark.job_ms_per_request", "ms", "lower"),
    M("spark.scan_mb_per_request", "MB", "lower"),
    M("spark.shuffle_mb_per_request", "MB", "lower"),
    M("spark.scan_rows_per_row_returned", "ratio", "lower"),
    M("catalyst.plan_ms_per_request", "ms", "lower"),
    M("metrics.run_ms", "ms", "lower"),
    M("metrics.prometheus_ms", "ms", "lower"),
    M("sources.create_s", "s", "lower"),
    M("sources.merge_ms", "ms", "lower"),
    M("sources.write_amplification", "ratio", "lower"),
    M("sources.live_files", "count", "lower")) ++
    Chain.Stages.map(s => M(s"operators.${s}_s", "s", "lower")) ++ Seq(
    M("operators.near_dup_pairs", "count", "higher"),
    M("jvm.gc_ms_per_s", "ms/s", "lower"),
    M("records_per_s", "1/s", "higher"),
    M("harvest_p50_ms", "ms", "lower"),
    M("scrape_p50_ms", "ms", "lower"),
    M("commit_p50_ms", "ms", "lower"),
    M("upsert_rows_per_s", "1/s", "higher"),
    M("tail_ms", "ms", "lower"),
    M("tail_pct", "percentile", "lower"),
    M("tail_samples", "count", "higher"),
    M("traced.throughput_per_s", "1/s", "higher"),
    M("traced.p50_ms", "ms", "lower"))

  val NameRe = "[A-Za-z0-9_.-]+"
}

/** What a run prints: counts, the metrics of its list, and notes. */
final case class Result(
    attempted: Long, failed: Long, failures: Seq[String],
    endToEnd: Map[String, Double], perLayer: Map[String, Double], notes: Seq[String])

object Result {

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer numbers from the timed phase's spans. */
  def layers(env: Env, ops: Ops, creates: Seq[Double], t: Timed, throughput: Double,
      primary: Samples, extra: Map[String, Double]): Map[String, Double] = {
    val spans = Trace.asScala(env.tracer.spans)
    val self = Trace.selfTimes(spans)
    val byName = spans.groupBy(s => s.name.takeWhile(_ != ':'))
    def ms(name: String) = mean(byName.getOrElse(name, Nil).map(_.ms))
    val requests = math.max(1, spans.count(s => s.parent == 0 && s.name.startsWith("bench.")))
    // jobs outside any benchmark request (the benchmark's own probes) are not counted
    val jobs = byName.getOrElse("spark.job", Nil).filter(_.request != 0)
    def jobSum(k: String) = jobs.map(_.attrs.getOrElse(k, 0.0)).sum
    val handles = byName.getOrElse("protocol.handle", Nil)
    val verbs = Metrics.Verbs.map { v =>
      val xs = handles.filter(_.name == s"protocol.handle:$v").map(_.ms).toArray.sorted
      s"protocol.${v}_p50_ms" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }
    val base = Map(
      "protocol.self_ms" -> mean(handles.map(h => self(h.id) / 1e6)),
      "protocol.response_kb" -> extra.getOrElse("protocol.response_kb", 0.0),
      "query.page_ms" -> ms("query.page"),
      "query.flags_ms" -> ms("query.flags"),
      "query.studies_ms" -> ms("query.studies"),
      "spark.jobs_per_request" -> jobs.size.toDouble / requests,
      "spark.tasks_per_request" -> jobSum("tasks") / requests,
      "spark.job_ms_per_request" -> jobs.map(_.ms).sum / requests,
      "spark.scan_mb_per_request" -> jobSum("scan_bytes") / 1e6 / requests,
      "spark.shuffle_mb_per_request" -> jobSum("shuffle_bytes") / 1e6 / requests,
      "spark.scan_rows_per_row_returned" ->
        jobSum("scan_rows") / math.max(1L, ops.rowsReturned.sum),
      "catalyst.plan_ms_per_request" ->
        env.listener.map(_.planNs.sum / 1e6 / requests).getOrElse(0.0),
      "metrics.run_ms" -> ms("metrics.run"),
      "metrics.prometheus_ms" -> ms("metrics.prometheus"),
      "sources.create_s" -> Stats.median(creates.toArray.sorted),
      "sources.merge_ms" -> ms("sources.merge"),
      "jvm.gc_ms_per_s" -> t.gcMs / t.seconds,
      "tail_ms" -> Stats.tail(primary.sorted)._1,
      "tail_pct" -> Stats.tail(primary.sorted)._2,
      "tail_samples" -> primary.size.toDouble,
      "traced.throughput_per_s" -> throughput,
      "traced.p50_ms" -> primary.p50) ++ verbs
    Metrics.PerLayer.map(m => m.name -> 0.0).toMap ++ base ++ extra
  }

  def build(env: Env, ops: Ops, setupS: Double, creates: Seq[Double], t: Timed,
      throughput: Double, primary: Samples,
      extra: Map[String, Double] = Map.empty): Result = {
    val sorted = primary.sorted
    val (tail, pct, n) = Stats.tail(sorted)
    val e2e = Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> throughput,
      "p50_ms" -> Stats.median(sorted),
      "retained_heap_mb" -> t.heapMb)
    val notes = Seq(
      f"tail_ms ${tail}%.3f ms = p$pct of $n samples",
      f"gc ${t.gcMs} ms in ${t.seconds}%.2f s") ++
      extra.toSeq.sortBy(_._1).map { case (k, v) => f"$k $v%.4f" }
    Result(ops.attempted.sum, ops.failed.sum, ops.failures, e2e,
      if (env.tracer.enabled) layers(env, ops, creates, t, throughput, primary, extra) else Map.empty,
      notes)
  }

  def oai(env: Env, ops: Ops, setupS: Double, creates: Seq[Double], t: Timed,
      throughput: Double, primary: Samples, stack: OaiStack,
      extra: Map[String, Double] = Map.empty): Result = {
    val kb = stack.responseBytes.sum / 1024.0 / math.max(1L, stack.responses.sum)
    build(env, ops, setupS, creates, t, throughput, primary,
      extra + ("protocol.response_kb" -> kb))
  }
}

object Main {

  /** Input sizes and client count, sized from the measured cost per
    * operation (perfbench/workloads.json).
    */
  val Studies = 5000
  val Docs = 1500
  val Clients = 4
  val SetupRounds = 3

  final case class Opts(
      workload: String = "", seed: Long = 1L, seconds: Int = 10, trace: Boolean = false,
      work: String = ".bench_build/work", traces: String = ".bench_build/traces")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--traces" :: v :: t => parse(t, o.copy(traces = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  val Workloads: Map[String, Env => Result] = Map(
    "harvest" -> HarvestWorkload.run,
    "lookup" -> LookupWorkload.run,
    "ingest_mix" -> IngestMixWorkload.run,
    "curation" -> CurationWorkload.run)

  def json(r: Result, trace: Boolean): String = {
    val list = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (trace) r.perLayer else r.endToEnd
    val ms = list.map { m =>
      val v = values(m.name)
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""${m.name}": {"value": $num, "unit": "${m.unit}"}"""
    }
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val run = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload '${o.workload}'"))
    val work = Path.of(o.work).toAbsolutePath.resolve(s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the status store keeps finished jobs for the UI; a short history
      // keeps retained_heap_mb about the program, not the job count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(o.trace, spark.sparkContext)
    val env = new Env(spark, tracer, Trace.install(spark, tracer), work, o.seed, o.seconds,
      math.min(Clients, cores), Studies, Docs, SetupRounds, sessionS)
    val r = run(env)
    val runS = (System.nanoTime() - t0) / 1e9
    if (o.trace) {
      val out = Path.of(o.traces).toAbsolutePath.resolve(s"${o.workload}-seed${o.seed}.jsonl")
      Trace.writeJsonl(Trace.asScala(tracer.spans), out)
      println(s"spans: ${tracer.spans.size} written to $out")
    }
    spark.stop()
    Env.deleteTree(work)
    println(f"note: session ${sessionS}%.2f s, workload ${runS - sessionS}%.2f s, " +
      f"stop ${(System.nanoTime() - t0) / 1e9 - runS}%.2f s")
    r.failures.foreach(f => println(s"FAILED: $f"))
    r.notes.foreach(n => println(s"note: $n"))
    println(f"error_ratio ${r.failed.toDouble / math.max(1L, r.attempted)}%.6f (${r.failed} of ${r.attempted})")
    val list = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (o.trace) r.perLayer else r.endToEnd
    list.foreach(m => println(f"${m.name} ${values(m.name)}%.4f ${m.unit}"))
    println(json(r, o.trace))
    System.out.flush()
    sys.exit(if (r.failed == 0) 0 else 1)
  }
}
