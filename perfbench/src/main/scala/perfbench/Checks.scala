package perfbench

import scala.collection.mutable

import graft.metrics.AggMetrics
import graft.render.OaiXml

/** Light string scans over OAI-PMH responses: the checks must not cost
  * more than the requests they check.
  */
object Xml {

  private val HeaderRe = """<header( status="deleted")?>\s*<identifier>([^<]*)</identifier>""".r
  private val TokenRe = """<resumptionToken([^>]*?)(?:/>|>([^<]*)</resumptionToken>)""".r
  private val AttrRe = """(\w+)="([^"]*)"""".r
  private val ErrorRe = """<error code="([^"]+)"""".r
  private val PrefixRe = """<metadataPrefix>([^<]*)</metadataPrefix>""".r
  private val SetSpecRe = """<set>\s*<setSpec>([^<]*)</setSpec>""".r
  private val EarliestRe = """<earliestDatestamp>([^<]*)</earliestDatestamp>""".r
  private val RequestRe = """<request([^>]*)>""".r

  /** (identifier, deleted) of every record header, in page order. */
  def headers(xml: String): Seq[(String, Boolean)] =
    HeaderRe.findAllMatchIn(xml).map(m => (m.group(2), m.group(1) != null)).toSeq

  final case class Token(value: Option[String], completeListSize: Option[Long])

  def token(xml: String): Option[Token] =
    TokenRe.findFirstMatchIn(xml).map { m =>
      val attrs = AttrRe.findAllMatchIn(m.group(1)).map(a => a.group(1) -> a.group(2)).toMap
      Token(Option(m.group(2)).filter(_.nonEmpty), attrs.get("completeListSize").map(_.toLong))
    }

  def error(xml: String): Option[String] = ErrorRe.findFirstMatchIn(xml).map(_.group(1))
  def prefixes(xml: String): Seq[String] = PrefixRe.findAllMatchIn(xml).map(_.group(1)).toSeq
  def setSpecs(xml: String): Seq[String] = SetSpecRe.findAllMatchIn(xml).map(_.group(1)).toSeq
  def earliest(xml: String): Option[String] = EarliestRe.findFirstMatchIn(xml).map(_.group(1))

  def requestAttrs(xml: String): Map[String, String] =
    RequestRe.findFirstMatchIn(xml).toSeq
      .flatMap(m => AttrRe.findAllMatchIn(m.group(1)).map(a => a.group(1) -> a.group(2)))
      .toMap
}

/** Expected answers computed from the generator's own records, never
  * from the program.
  */
object Expect {
  import Gen.Fact

  /** The ids a list request must return over `facts`. */
  def listIds(
      facts: Iterable[Fact], nowMs: Long,
      from: Option[Long] = None, until: Option[Long] = None,
      source: Option[Int] = None, doiOnly: Boolean = false): Set[String] =
    facts.iterator.filter(f =>
      f.updatedMs < nowMs && from.forall(f.updatedMs >= _) && until.forall(f.updatedMs <= _) &&
        source.forall(_ == f.source) && (!doiOnly || f.doi))
      .map(_.id).toSet

  /** Corpus gauges of /metrics: (total, live, per-source (total, live)). */
  final case class Gauges(total: Long, live: Long, perSource: Map[Int, (Long, Long)])

  def gauges(facts: Iterable[Fact]): Gauges = {
    val per = facts.groupBy(_.source).map { case (k, fs) =>
      k -> (fs.size.toLong, fs.count(!_.deleted).toLong)
    }
    Gauges(facts.size.toLong, facts.count(!_.deleted).toLong, per)
  }

  def isoDate(ms: Long): String = OaiXml.isoDate(new java.sql.Timestamp(ms))
}

/** Output checks. Each returns None when the output is right, else a
  * one-line reason.
  */
object Check {

  /** A harvest: no duplicate, a completeListSize equal to the expected
    * set's size on every page, and — when `complete` — exactly the
    * expected id set. A harvest cut short by the end of the timed phase
    * must have returned the expected set's first ids in key order, as
    * keyset pagination serves them.
    */
  def harvest(
      pages: Seq[String], expected: Set[String], complete: Boolean = true): Option[String] = {
    val ids = pages.flatMap(p => Xml.headers(p).map(_._1))
    val seen = mutable.HashSet.empty[String]
    val dup = ids.find(id => !seen.add(id))
    val sizes = pages.flatMap(p => Xml.token(p).flatMap(_.completeListSize)).distinct
    if (pages.exists(p => Xml.error(p).isDefined) && expected.nonEmpty)
      Some(s"error response: ${pages.flatMap(Xml.error).head}")
    else if (dup.isDefined) Some(s"duplicate record ${dup.get}")
    else if (!complete) {
      if (sizes.exists(_ != expected.size.toLong))
        Some(s"completeListSize ${sizes.mkString(",")} != ${expected.size}")
      else if (ids != expected.toSeq.sorted.take(ids.size))
        Some(s"partial harvest of ${ids.size} ids is not the expected set's key-order prefix")
      else None
    }
    else if (seen.size != expected.size || !expected.forall(seen.contains))
      Some(s"harvest returned ${seen.size} ids, expected ${expected.size} " +
        s"(missing ${expected.count(!seen.contains(_))}, extra ${seen.count(!expected.contains(_))})")
    else if (sizes.exists(_ != expected.size.toLong))
      Some(s"completeListSize ${sizes.mkString(",")} != ${expected.size}")
    else if (expected.isEmpty && pages.headOption.flatMap(Xml.error) != Some("noRecordsMatch"))
      Some("empty harvest without noRecordsMatch")
    else None
  }

  def getRecord(xml: String, id: String, expectFound: Boolean, deleted: Boolean): Option[String] =
    if (!expectFound)
      if (Xml.error(xml).contains("idDoesNotExist")) None
      else Some(s"GetRecord $id: expected idDoesNotExist")
    else Xml.headers(xml) match {
      case Seq((got, del)) if got == id && del == deleted &&
          Xml.requestAttrs(xml).get("identifier").contains(id) => None
      case hs => Some(s"GetRecord $id: headers $hs")
    }

  def listMetadataFormats(xml: String, id: String, expected: Option[Set[String]]): Option[String] =
    expected match {
      case None =>
        if (Xml.error(xml).contains("idDoesNotExist")) None
        else Some(s"ListMetadataFormats $id: expected idDoesNotExist")
      case Some(ps) =>
        val got = Xml.prefixes(xml)
        if (got.toSet == ps && got.size == ps.size) None
        else Some(s"ListMetadataFormats $id: $got != $ps")
    }

  def identify(xml: String, earliest: String): Option[String] =
    if (Xml.earliest(xml).contains(earliest)) None
    else Some(s"Identify earliestDatestamp ${Xml.earliest(xml)} != $earliest")

  def listSets(xml: String, expected: Set[String]): Option[String] = {
    val got = Xml.setSpecs(xml)
    if (got.toSet == expected && got.size == expected.size) None
    else Some(s"ListSets ${got.size} specs, expected ${expected.size}")
  }

  /** /metrics gauges against the generator's counts. */
  def metrics(m: AggMetrics, text: String, g: Expect.Gauges): Option[String] = {
    val lines = text.linesIterator.filterNot(_.startsWith("#")).map { l =>
      val i = l.lastIndexOf(' ')
      l.take(i) -> l.drop(i + 1)
    }.toMap
    def gauge(k: String): Option[Long] = lines.get(k).map(_.toLong)
    val expectedPer = g.perSource.collect { case (k, (n, live)) if n > 0 =>
      Gen.sourceUrl(k) -> (n, live)
    }
    val gotPer = m.perPublisher.map(p => p.baseUrl -> (p.records, p.recordsWithoutDeleted)).toMap
    val textPer = expectedPer.keys.map(u =>
      u -> (gauge(s"""publisher_records{publisher="$u"}""").getOrElse(-1L),
        gauge(s"""publisher_records_without_deleted{publisher="$u"}""").getOrElse(-1L))).toMap
    if (!gauge("records_total").contains(g.total))
      Some(s"records_total ${gauge("records_total")} != ${g.total}")
    else if (!gauge("records_total_without_deleted").contains(g.live))
      Some(s"records_total_without_deleted ${gauge("records_total_without_deleted")} != ${g.live}")
    else if (!gauge("publishers_total").contains(expectedPer.size.toLong))
      Some(s"publishers_total ${gauge("publishers_total")} != ${expectedPer.size}")
    else if (gotPer != expectedPer || textPer != expectedPer)
      Some("per-publisher gauges differ from the generator's counts")
    else None
  }
}
