package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.StudyLayout
import graft.query.ResumptionToken
import graft.sources.TxTable

/** Ingest beside serve: one writer commits upsert batches through
  * `mergeInto`, one harvester runs snapshot-pinned incremental and full
  * harvests, one scraper reads /metrics on a schedule — all against the
  * same table.
  */
object IngestMixWorkload {

  val Key = "_aggregator_identifier"
  val Tombstone = "_tombstone"
  val ScrapeEveryMs = 500L

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def run(env: Env): Result = {
    val spark = env.spark
    val corpus = Gen.corpus(env.seed, Gen.CorpusSpec(studies = env.studies))
    val stream = new Gen.UpsertStream(corpus, Gen.UpsertSpec())
    val nowMs = System.currentTimeMillis()
    // committed version → the generator's facts for that table state
    val snapshots = new ConcurrentHashMap[Long, IndexedSeq[Gen.Fact]]()
    snapshots.put(0L, corpus.studies.map(Gen.fact))

    def source(batch: Gen.Batch) = {
      val tombs = batch.rows.collect { case (s, true) => s._aggregator_identifier }
      StudyLayout.withDerived(spark.createDataFrame(batch.rows.map(_._1)))
        .withColumn(Tombstone, if (tombs.isEmpty) lit(false) else col(Key).isin(tombs: _*))
    }
    def merge(root: String, batch: Gen.Batch): Long = {
      val src = source(batch)
      TxTable.mergeInto(root, src, Key, src.columns.toSeq.filterNot(Set(Key, Tombstone)), Tombstone)
    }
    val (stack, setupS, creates) = OaiStack.setUp(env, corpus, env.setupRounds) { s =>
      // warm every path of the timed phase; the merge goes to a copy
      // of the table, so the served one stays at version 0
      val copy = env.work.resolve("warm-table").toString
      OaiStack.ingest(env, corpus, copy)
      merge(copy, new Gen.UpsertStream(corpus, Gen.UpsertSpec()).next())
      Env.deleteTree(Path.of(copy))
      s.handle(Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc",
        "from" -> OaiStack.iso(Gen.Epoch2015)))
      s.scrape(s.store.studies)
    }
    val root = stack.root

    def snapshotAt(v: Long): IndexedSeq[Gen.Fact] = {
      val deadline = System.currentTimeMillis() + 10000L
      while (!snapshots.containsKey(v) && System.currentTimeMillis() < deadline) Thread.sleep(5)
      snapshots.get(v)
    }
    def latest(): Long = TxTable.versions(spark, root).max

    val pageMs = new Samples
    val commitMs = new Samples
    val scrapeMs = new Samples
    val records = new LongAdder
    val upsertRows = new LongAdder
    val amplification = new Samples
    val ops = new Ops

    def writer(stop: () => Boolean): Unit = {
      var version = 0L
      while (!stop()) {
        val batch = stream.next()
        val batchBytes =
          if (!env.tracer.enabled) 0L
          else {
            val p = env.work.resolve(s"batch-${batch.index}")
            source(batch).coalesce(1).write.parquet(p.toString)
            try dirBytes(p) finally Env.deleteTree(p)
          }
        val before = if (env.tracer.enabled) dirBytes(Path.of(root)) else 0L
        val t0 = System.nanoTime()
        ops.check {
          val v = env.tracer.request("bench.commit") {
            env.tracer.span("sources.merge")(merge(root, batch))
          }
          commitMs.add((System.nanoTime() - t0) / 1e6)
          upsertRows.add(batch.rows.size)
          if (env.tracer.enabled)
            amplification.add((dirBytes(Path.of(root)) - before).toDouble / batchBytes)
          stream.apply(batch)
          snapshots.put(v, stream.state.valuesIterator.map(Gen.fact).toIndexedSeq)
          if (v != version + 1) Some(s"commit landed as v$v after v$version") else {
            version = v
            None
          }
        }
      }
    }

    def harvester(stop: () => Boolean): Unit = {
      var n = 0
      while (!stop()) {
        val incremental = n % 2 == 0
        n += 1
        val params =
          if (incremental) Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc",
            "from" -> OaiStack.iso(Gen.Epoch2025))
          else Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_dc")
        val vBefore = latest()
        OaiStack.harvest(stack, params, pageMs, records, ops, stop).foreach { h =>
          val pages = h.pages
          val vAfter = latest()
          val pinned = pages.headOption.flatMap(Xml.token).flatMap(_.value)
            .map(t => ResumptionToken.decode(t).args("txv").toLong)
          val candidates = pinned.map(Seq(_)).getOrElse(vBefore to vAfter)
          def check(v: Long): Option[String] = Check.harvest(pages, Expect.listIds(snapshotAt(v), nowMs,
            from = if (incremental) Some(Gen.Epoch2025) else None), h.complete)
          if (!candidates.exists(v => check(v).isEmpty))
            ops.fail(s"pinned harvest v${candidates.last}: ${check(candidates.last).get}")
        }
      }
    }

    def scraper(stop: () => Boolean): Unit = {
      var next = System.nanoTime()
      while (!stop()) {
        val wait = (next - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        next += ScrapeEveryMs * 1000000L
        if (!stop()) {
          val t0 = System.nanoTime()
          ops.check {
            val v = latest()
            val (m, text) = stack.scrape(TxTable.readVersion(spark, root, v))
            scrapeMs.add((System.nanoTime() - t0) / 1e6)
            Check.metrics(m, text, Expect.gauges(snapshotAt(v)))
          }
        }
      }
    }

    val timed = env.timed(3) { (role, stop) =>
      role match {
        case 0 => writer(stop)
        case 1 => harvester(stop)
        case _ => scraper(stop)
      }
    }

    // the final table must equal the generator's replay of every batch
    ops.check {
      val got = TxTable.read(spark, root)
        .select(col(Key), col("_metadata.status"), col("_metadata.updated"),
          col("study_titles").getItem(0).getField("value"))
        .collect().map(r => (r.getString(0), (r.getString(1), r.getTimestamp(2).getTime, r.getString(3))))
        .toMap
      val want = stream.state.map { case (k, s) =>
        k -> (s._metadata.status, s._metadata.updated.getTime, s.study_titles.head.value)
      }.toMap
      if (got == want) None
      else Some(s"final table: ${got.size} rows vs replay ${want.size}, " +
        s"${want.count { case (k, v) => !got.get(k).contains(v) }} differ")
    }
    val liveFiles = TxTable.latestSnapshot(spark, root).files.size
    // writes show in the throughput (upserted rows per second of the
    // writer), reads in the latency of the harvester's pages
    val upsertRate = upsertRows.sum / timed.workerSeconds(0)
    Result.oai(env, ops, setupS + env.sessionS, creates, timed,
      throughput = upsertRate, primary = pageMs, stack = stack,
      extra = Map(
        "records_per_s" -> records.sum / timed.workerSeconds(1),
        "scrape_p50_ms" -> scrapeMs.p50,
        "commit_p50_ms" -> commitMs.p50,
        "upsert_rows_per_s" -> upsertRate,
        "sources.write_amplification" -> (if (amplification.size == 0) 0.0 else amplification.p50),
        "sources.live_files" -> liveFiles.toDouble))
  }
}
