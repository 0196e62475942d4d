package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.metrics.{AggMetrics, MetricsJob, PublisherCounts}
import graft.render.OaiXml

/** The benchmark's own tests: generator determinism, that the output
  * checks catch broken outputs, the oracle on hand-made documents, and
  * metric naming. No Spark session; run with
  * `python3 perfbench/run.py --selftest`.
  */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += name
        println(s"FAIL $name: $e")
    }

  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  /** A list page as the program renders it: real headers, a token. */
  def page(ids: Seq[String], completeListSize: Long, token: Option[String]): String = {
    val headers = ids.map(id => OaiXml.header(id, new java.sql.Timestamp(0L), Seq("source:SRC00"), deleted = false))
    val tok = token match {
      case Some(t) => <resumptionToken completeListSize={completeListSize.toString} cursor="0">{t}</resumptionToken>
      case None => <resumptionToken completeListSize={completeListSize.toString}/>
    }
    OaiXml.envelope(Some("ListIdentifiers"), Map("metadataPrefix" -> "oai_dc"),
      "http://localhost/oai", new java.sql.Timestamp(0L),
      <ListIdentifiers>{headers}{tok}</ListIdentifiers>)
  }

  def main(args: Array[String]): Unit = {
    val spec = Gen.CorpusSpec(studies = 400)

    test("same seed gives the same corpus digest; another seed another") {
      def d(seed: Long) = Gen.digest(Gen.corpus(seed, spec).studies.iterator)
      assert(d(7L) == d(7L), "corpus digest differs for one seed")
      assert(d(7L) != d(8L), "corpus digest equal for two seeds")
    }

    test("same seed gives the same upsert stream, key draw and documents") {
      def upserts(seed: Long) = {
        val s = new Gen.UpsertStream(Gen.corpus(seed, spec), Gen.UpsertSpec(batchRows = 50))
        Gen.digest((0 until 3).iterator.map { _ => val b = s.next(); s.apply(b); b })
      }
      assert(upserts(3L) == upserts(3L), "upsert stream differs for one seed")
      def keys(seed: Long) = {
        val c = Gen.corpus(seed, spec)
        val k = new Gen.KeyDraw(c.studies.map(_._aggregator_identifier), seed, 0.9, 0.1)
        val r = new java.util.SplittableRandom(seed)
        Gen.digest(Iterator.fill(200)(k.draw(r)))
      }
      assert(keys(3L) == keys(3L), "key draw differs for one seed")
      def docs(seed: Long) = Gen.digest(Gen.docs(seed, Gen.DocSpec(docs = 300)).docs.iterator)
      assert(docs(3L) == docs(3L) && docs(3L) != docs(4L), "document digest")
    }

    test("generated corpus has the stated shares") {
      val c = Gen.corpus(11L, Gen.CorpusSpec(studies = 5000))
      val facts = c.studies.map(Gen.fact)
      val del = facts.count(_.deleted) / 5000.0
      val doi = facts.count(_.doi) / 5000.0
      assert(math.abs(del - 0.05) < 0.015, s"deleted share $del")
      assert(math.abs(doi - 0.3) < 0.03, s"DOI share $doi")
      assert(facts.map(_.source).distinct.size == 12, "sources")
      assert(facts.count(_.source == 0) > facts.count(_.source == 11) * 5, "publisher skew")
      assert(facts.map(_.id).distinct.size == 5000, "ids are unique")
    }

    val ids = (1 to 6).map(i => f"oai:bench:$i%016x")
    val expected = ids.toSet

    test("a complete harvest passes the check") {
      val pages = Seq(page(ids.take(3), 6, Some("t1")), page(ids.drop(3), 6, None))
      assert(Check.harvest(pages, expected).isEmpty, s"${Check.harvest(pages, expected)}")
    }

    test("a page with one record dropped is caught") {
      val pages = Seq(page(ids.take(3), 6, Some("t1")), page(ids.drop(4), 6, None))
      assert(Check.harvest(pages, expected).isDefined, "dropped record not caught")
    }

    test("a page with one record duplicated is caught") {
      val pages = Seq(page(ids.take(3), 6, Some("t1")), page(ids.drop(2), 6, None))
      assert(Check.harvest(pages, expected).isDefined, "duplicated record not caught")
    }

    test("a dishonest completeListSize is caught") {
      val pages = Seq(page(ids.take(3), 7, Some("t1")), page(ids.drop(3), 7, None))
      assert(Check.harvest(pages, expected).isDefined, "wrong completeListSize not caught")
    }

    test("a cut-short harvest must be the key-order prefix") {
      assert(Check.harvest(Seq(page(ids.take(3), 6, Some("t"))), expected, complete = false).isEmpty,
        "prefix rejected")
      assert(Check.harvest(Seq(page(Seq(ids(0), ids(2)), 6, Some("t"))), expected, complete = false).isDefined,
        "gap in a partial harvest not caught")
    }

    test("GetRecord must echo the requested id") {
      val xml = OaiXml.envelope(Some("GetRecord"), Map("identifier" -> ids(0), "metadataPrefix" -> "oai_dc"),
        "http://localhost/oai", new java.sql.Timestamp(0L),
        <GetRecord><record>{OaiXml.header(ids(0), new java.sql.Timestamp(0L), Nil, deleted = false)}</record></GetRecord>)
      assert(Check.getRecord(xml, ids(0), expectFound = true, deleted = false).isEmpty, "right record rejected")
      assert(Check.getRecord(xml, ids(1), expectFound = true, deleted = false).isDefined, "wrong id not caught")
      assert(Check.getRecord(xml, ids(0), expectFound = false, deleted = false).isDefined,
        "record returned for an unknown id not caught")
    }

    test("a wrong /metrics total is caught") {
      val g = Expect.Gauges(10, 8, Map(0 -> (6L, 5L), 3 -> (4L, 3L)))
      val per = Seq(PublisherCounts(Gen.sourceUrl(0), 6, 5), PublisherCounts(Gen.sourceUrl(3), 4, 3))
      val right = AggMetrics(10, 8, 2, per)
      assert(Check.metrics(right, MetricsJob.prometheus(right), g).isEmpty, "right gauges rejected")
      val wrongTotal = right.copy(recordsTotal = 11)
      assert(Check.metrics(wrongTotal, MetricsJob.prometheus(wrongTotal), g).isDefined, "wrong total not caught")
      val wrongPer = right.copy(perPublisher = Seq(per(0).copy(records = 7), per(1)))
      assert(Check.metrics(wrongPer, MetricsJob.prometheus(wrongPer), g).isDefined,
        "wrong per-publisher count not caught")
    }

    test("oracle: duplicates, near duplicates, contamination and low quality") {
      val vocab = Gen.vocabulary(1L, 500)
      val r = new java.util.SplittableRandom(5L)
      def text(n: Int) = (0 until n).map(k => if (k % 6 == 5) "the" else vocab(r.nextInt(vocab.size))).mkString(" ")
      val a = text(120)
      val near = { val w = a.split(" "); w(50) = "zzzzz"; w.mkString(" ") }
      val bench = text(60)
      val leaked = text(100) + " " + bench.split(" ").slice(10, 30).mkString(" ")
      val docs = IndexedSeq(
        Gen.Doc(5, a, "good"), Gen.Doc(2, a, "exact"), Gen.Doc(9, near, "near"),
        Gen.Doc(4, leaked, "contaminated"), Gen.Doc(7, "too short to keep", "low"),
        Gen.Doc(8, text(120), "good"))
      val out = Oracle.curate(Gen.DocCorpus(docs, IndexedSeq(Gen.Doc(-1, bench, "benchmark"))))
      assert(out.rows.map(_._1) == Seq(2L, 8L), s"survivors ${out.rows}")
      assert(out.nearDupPairs == 1, s"pairs ${out.nearDupPairs}")
    }

    test("tail percentile leaves at least ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble).toArray
      val (_, p, n) = Stats.tail(xs)
      assert(p == 90.0 && n == 100, s"p$p of $n")
      assert(Stats.tail((1 to 1000).map(_.toDouble).toArray)._2 == 99.0, "1000 samples")
    }

    test("self time subtracts the union of child intervals") {
      val spans = Seq(Span(1, 0, 1, "p", 0, 100), Span(2, 1, 1, "c", 10, 40),
        Span(3, 1, 1, "c", 30, 60), Span(4, 1, 1, "c", 90, 120))
      assert(Trace.selfTimes(spans)(1) == 100 - 50 - 10, s"${Trace.selfTimes(spans)(1)}")
    }

    test("every metric name matches [A-Za-z0-9_.-]+ and BENCHMARK.json lists them") {
      val all = Metrics.EndToEnd ++ Metrics.PerLayer
      all.foreach(m => assert(m.name.matches(Metrics.NameRe), s"bad name ${m.name}"))
      assert(all.map(_.name).distinct.size == all.size, "duplicate metric name")
      val f = Path.of("BENCHMARK.json")
      if (Files.exists(f)) {
        val json = new String(Files.readAllBytes(f), "UTF-8")
        all.foreach(m => assert(json.contains(s""""name": "${m.name}", "unit": "${m.unit}", "better": "${m.better}""""),
          s"BENCHMARK.json lacks ${m.name}"))
      }
    }

    if (failures.nonEmpty) {
      println(s"${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all passed")
  }
}
