package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.ingest.StudyLayout
import graft.metrics.{MetricsJob, RequestMetrics}
import graft.protocol.{OaiConfig, OaiRepository}
import graft.query.{Filter, HarvestStore, Page, ResumptionToken, TxStudyStore}
import graft.sets.{LanguageSet, OpenAireSet, SetFamily, SourceSet}
import graft.sources.TxTable

/** A [[HarvestStore]] that records a span around each call into the
  * store it wraps.
  */
final class TracingStore(inner: HarvestStore, t: Tracer) extends HarvestStore {
  override def studies: DataFrame = t.span("query.studies")(inner.studies)
  override def queryFlags(filter: Filter, flags: Seq[(String, Filter)]): Option[Seq[String]] =
    t.span("query.flags")(inner.queryFlags(filter, flags))
  override def queryPage(
      filter: Filter, fields: Seq[String], listSize: Int,
      token: Option[ResumptionToken], filterFingerprint: String,
      derive: DataFrame => DataFrame, tokenArgs: Map[String, String]): Page =
    t.span("query.page")(inner.queryPage(
      filter, fields, listSize, token, filterFingerprint, derive, tokenArgs))
}

/** The serving stack the three OAI workloads share: a TxTable built
  * from the generated corpus, [[TxStudyStore]] over it, and
  * [[OaiRepository]] with the source, language and OpenAIRE set
  * families.
  */
final class OaiStack(env: Env, corpus: Gen.Corpus, val root: String) {
  val sets: Seq[SetFamily] =
    Seq(SourceSet(Gen.sourceDefs(corpus.spec.sources)), LanguageSet, OpenAireSet)
  val store = new TxStudyStore(env.spark, root)
  val requests = new RequestMetrics
  val responseBytes = new LongAdder
  val responses = new LongAdder
  val repo = new OaiRepository(
    if (env.tracer.enabled) new TracingStore(store, env.tracer) else store,
    sets, OaiConfig(listSize = OaiStack.ListSize), metrics = Some(requests))

  /** One served OAI request, traced as a benchmark request. */
  def handle(params: Map[String, String]): String = {
    val xml = env.tracer.request("bench.request") {
      env.tracer.span(s"protocol.handle:${params.getOrElse("verb", "")}")(repo.handle(params))
    }
    responseBytes.add(xml.length)
    responses.increment()
    xml
  }

  /** One /metrics scrape over `studies`. */
  def scrape(studies: => DataFrame): (graft.metrics.AggMetrics, String) =
    env.tracer.request("bench.scrape") {
      val m = env.tracer.span("metrics.run")(MetricsJob.run(studies))
      (m, env.tracer.span("metrics.prometheus")(MetricsJob.prometheus(m, requests)))
    }

}

object OaiStack {
  val ListSize = 500

  def ingest(env: Env, corpus: Gen.Corpus, root: String): Unit = {
    val df = env.spark.createDataFrame(corpus.studies)
    env.tracer.span("sources.create")(TxTable.create(StudyLayout.withDerived(df), root))
  }

  /** Set-up: the corpus is ingested `rounds` times into fresh tables
    * and the last one, after a warm-up, serves the timed phase. Returns
    * the stack, the set-up seconds (median ingest + warm-up) and the
    * per-round ingest seconds.
    */
  def setUp(env: Env, corpus: Gen.Corpus, rounds: Int)(warm: OaiStack => Unit)
      : (OaiStack, Double, Seq[Double]) = {
    val creates = (0 until rounds).map { k =>
      val root = env.work.resolve(s"table-$k")
      if (k > 0) Env.deleteTree(env.work.resolve(s"table-${k - 1}"))
      val t0 = System.nanoTime()
      ingest(env, corpus, root.toString)
      (System.nanoTime() - t0) / 1e9
    }
    val stack = new OaiStack(env, corpus, env.work.resolve(s"table-${rounds - 1}").toString)
    val t0 = System.nanoTime()
    warm(stack)
    val warmS = (System.nanoTime() - t0) / 1e9
    (stack, Stats.median(creates.toArray.sorted) + warmS, creates)
  }

  /** Pages of one harvest, and whether it reached the end of the list. */
  final case class Harvested(pages: Seq[String], complete: Boolean)

  /** Follow a list request's resumption tokens to the end, or until
    * `stop` says so. Each page is timed. None when a request threw.
    */
  def harvest(
      stack: OaiStack, params: Map[String, String], pageMs: Samples,
      records: LongAdder, ops: Ops, stop: () => Boolean): Option[Harvested] = {
    val verb = params("verb")
    val pages = mutable.ArrayBuffer.empty[String]
    var next: Option[Map[String, String]] = Some(params)
    while (next.isDefined) {
      if (stop()) return Some(Harvested(pages.toSeq, complete = false))
      val t0 = System.nanoTime()
      val xml =
        try stack.handle(next.get)
        catch {
          case e: Exception =>
            ops.attempted.increment()
            ops.fail(s"$verb page: ${e.getMessage}")
            return None
        }
      pageMs.add((System.nanoTime() - t0) / 1e6)
      ops.attempted.increment()
      val n = Xml.headers(xml).size
      records.add(n)
      ops.rowsReturned.add(n)
      pages += xml
      next = Xml.token(xml).flatMap(_.value).map(t =>
        Map("verb" -> verb, "resumptionToken" -> t))
    }
    Some(Harvested(pages.toSeq, complete = true))
  }

  def iso(ms: Long): String = Expect.isoDate(ms)

  /** Every set spec ListSets must enumerate for the corpus. */
  def expectedSets(c: Gen.Corpus): Set[String] =
    Set("source", "openaire_data") ++
      (0 until c.spec.sources).map(k => s"source:${Gen.sourceSpec(k)}") ++
      c.studies.flatMap(_.study_titles.map(t => s"language:${t.lang}"))
}

/** Harvest: closed-loop harvesters, each running complete harvests that
  * follow resumption tokens to the end, over an unchanging corpus.
  */
object HarvestWorkload {

  final case class Plan(name: String, params: Map[String, String], expected: Set[String])

  /** Harvest mix: full ListRecords oai_dc, set-selective ListRecords
    * oai_ddi25 and date-window ListIdentifiers oai_datacite, 2 : 1 : 1.
    * Most set and window harvests fit one page, and a first page also
    * counts the list, so the long full harvests keep first pages a small
    * share of all pages and the page median on continuation pages.
    */
  def plans(corpus: Gen.Corpus, client: Int, nowMs: Long): Iterator[Plan] = {
    val facts = corpus.studies.map(Gen.fact)
    val sets = Iterator.iterate(client * 3)(k => (k + 1) % corpus.spec.sources)
    val years = Iterator.iterate(client * 2)(y => (y + 3) % 8).map(2015 + _)
    val kinds = Iterator.continually(Seq("full", "set", "full", "window")).flatten
      .drop(client)
    kinds.map {
      case "full" =>
        Plan("full", Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc"),
          Expect.listIds(facts, nowMs))
      case "set" =>
        // sources in a fixed rotation, so every run harvests the same sets
        val k = sets.next()
        Plan("set", Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_ddi25",
          "set" -> s"source:${Gen.sourceSpec(k)}"),
          Expect.listIds(facts, nowMs, source = Some(k)))
      case _ =>
        val year = years.next()
        val from = java.sql.Timestamp.valueOf(s"$year-01-01 00:00:00").getTime
        val until = java.sql.Timestamp.valueOf(s"${year + 1}-12-31 23:59:59").getTime
        Plan("window", Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_datacite",
          "from" -> OaiStack.iso(from), "until" -> OaiStack.iso(until)),
          Expect.listIds(facts, nowMs, from = Some(from), until = Some(until), doiOnly = true))
    }
  }

  def run(env: Env): Result = {
    val corpus = Gen.corpus(env.seed, Gen.CorpusSpec(studies = env.studies))
    val nowMs = System.currentTimeMillis()
    val (stack, setupS, creates) = OaiStack.setUp(env, corpus, env.setupRounds) { s =>
      plans(corpus, 0, nowMs).take(3).foreach(p => s.handle(p.params))
    }
    val pageMs = new Samples
    val harvestMs = new Samples
    val records = IndexedSeq.fill(env.clients)(new LongAdder)
    val ops = new Ops
    val timed = env.timed(env.clients) { (client, stop) =>
      val it = plans(corpus, client, nowMs)
      while (!stop()) {
        val p = it.next()
        val t0 = System.nanoTime()
        OaiStack.harvest(stack, p.params, pageMs, records(client), ops, stop).foreach { h =>
          if (h.complete) harvestMs.add((System.nanoTime() - t0) / 1e6)
          Check.harvest(h.pages, p.expected, h.complete)
            .foreach(r => ops.fail(s"${p.name} harvest: $r"))
        }
      }
    }
    Result.oai(env, ops, setupS + env.sessionS, creates, timed,
      throughput = timed.rate(records.map(_.sum.toDouble)), primary = pageMs,
      stack = stack, extra = Map(
        "records_per_s" -> timed.rate(records.map(_.sum.toDouble)),
        "harvest_p50_ms" -> harvestMs.p50))
  }
}

/** Lookup: closed-loop portal clients making point requests. */
object LookupWorkload {

  /** The request mix as a fixed cycle of 50 slots, so every run sends the
    * same proportions: GetRecord 70% (oai_dc 3 : oai_ddi25 1 :
    * oai_datacite 1), ListMetadataFormats(identifier) 12%, Identify,
    * ListSets and /metrics 6% each.
    */
  val Mix: IndexedSeq[String] = {
    val slots = Seq.fill(21)("GetRecord:oai_dc") ++ Seq.fill(7)("GetRecord:oai_ddi25") ++
      Seq.fill(7)("GetRecord:oai_datacite") ++ Seq.fill(6)("ListMetadataFormats") ++
      Seq.fill(3)("Identify") ++ Seq.fill(3)("ListSets") ++ Seq.fill(3)("metrics")
    new scala.util.Random(50L).shuffle(slots).toIndexedSeq
  }

  val WarmSeconds = 3

  /** Where one phase's lookup samples go. */
  final class Sink(clients: Int) {
    val reqMs = new Samples
    val scrapeMs = new Samples
    val ops = new Ops
    val done: IndexedSeq[LongAdder] = IndexedSeq.fill(clients)(new LongAdder)
  }

  def run(env: Env): Result = {
    val corpus = Gen.corpus(env.seed, Gen.CorpusSpec(studies = env.studies))
    val byId = corpus.studies.map(s => s._aggregator_identifier -> Gen.fact(s)).toMap
    val keys = new Gen.KeyDraw(corpus.studies.map(_._aggregator_identifier), env.seed,
      skew = 0.9, unknownShare = 0.1)
    val earliest = Expect.isoDate(byId.values.map(_.updatedMs).min)
    val gauges = Expect.gauges(byId.values)
    val expectedSets = OaiStack.expectedSets(corpus)

    def request(s: OaiStack, r: SplittableRandom, k: Sink, client: Int, slot: Int): Unit = {
      val kind = Mix(slot % Mix.size)
      val t0 = System.nanoTime()
      def done(): Double = {
        val ms = (System.nanoTime() - t0) / 1e6
        k.reqMs.add(ms)
        k.done(client).increment()
        ms
      }
      if (kind.startsWith("GetRecord")) {
        val id = keys.draw(r)
        val prefix = kind.drop("GetRecord:".length)
        k.ops.check {
          val xml = s.handle(Map("verb" -> "GetRecord", "identifier" -> id, "metadataPrefix" -> prefix))
          done()
          val f = byId.get(id)
          val found = f.exists(x => prefix != "oai_datacite" || x.doi)
          if (found) k.ops.rowsReturned.increment()
          Check.getRecord(xml, id, found, f.exists(_.deleted))
        }
      } else if (kind == "ListMetadataFormats") {
        val id = keys.draw(r)
        k.ops.check {
          val xml = s.handle(Map("verb" -> "ListMetadataFormats", "identifier" -> id))
          done()
          val expected = byId.get(id).map(f =>
            Set("oai_dc", "oai_ddi25") ++ (if (f.doi) Set("oai_datacite") else Set.empty))
          Check.listMetadataFormats(xml, id, expected)
        }
      } else if (kind == "Identify") {
        k.ops.check {
          val xml = s.handle(Map("verb" -> "Identify"))
          done()
          Check.identify(xml, earliest)
        }
      } else if (kind == "ListSets") {
        k.ops.check {
          val xml = s.handle(Map("verb" -> "ListSets"))
          done()
          Check.listSets(xml, expectedSets)
        }
      } else {
        k.ops.check {
          val (m, text) = s.scrape(s.store.studies)
          k.scrapeMs.add(done())
          Check.metrics(m, text, gauges)
        }
      }
    }

    // warm-up: the timed loop itself for a few seconds, samples dropped —
    // a handful of sequential requests left the first timed seconds slow
    // by a varying amount
    val (stack, setupS, creates) = OaiStack.setUp(env, corpus, env.setupRounds) { s =>
      val until = System.nanoTime() + WarmSeconds * 1000000000L
      val warm = new Sink(env.clients)
      val ts = (0 until env.clients).map { client =>
        val t = new Thread(() => {
          val r = new SplittableRandom(env.seed ^ (0x3a7L + client))
          var slot = client * Mix.size / env.clients
          while (System.nanoTime() < until) { request(s, r, warm, client, slot); slot += 1 }
        })
        t.start()
        t
      }
      ts.foreach(_.join())
    }
    val k = new Sink(env.clients)
    val timed = env.timed(env.clients) { (client, stop) =>
      val r = new SplittableRandom(env.seed * 131 + client)
      var slot = client * Mix.size / env.clients
      while (!stop()) { request(stack, r, k, client, slot); slot += 1 }
    }
    Result.oai(env, k.ops, setupS + env.sessionS, creates, timed,
      throughput = timed.rate(k.done.map(_.sum.toDouble)), primary = k.reqMs,
      stack = stack, extra = Map("scrape_p50_ms" -> k.scrapeMs.p50))
  }
}
