package perfbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.schema._
import graft.sets.SourceDef

/** Zipf(s) sampler over ranks 0..n-1 (inverse CDF table). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded input generators. The program receives only what these
  * produce; every property that shapes its behaviour is a field here
  * and is recorded, with the reason for its value, in workloads.json.
  */
object Gen {

  /** Study corpus shape. */
  final case class CorpusSpec(
      studies: Int,
      sources: Int = 12,
      sourceZipf: Double = 1.1,
      deletedShare: Double = 0.05,
      doiShare: Double = 0.3,
      langs: Seq[(String, Double)] =
        Seq("en" -> 0.55, "fi" -> 0.15, "de" -> 0.12, "fr" -> 0.10, "sv" -> 0.08),
      parallelEnglishShare: Double = 0.3)

  val Epoch2015: Long = Timestamp.valueOf("2015-01-01 00:00:00").getTime
  val Epoch2025: Long = Timestamp.valueOf("2025-01-01 00:00:00").getTime
  private val CorpusSpanMs: Long = Epoch2025 - Epoch2015

  /** splitmix64 finalizer — a bijection, so distinct inputs give
    * distinct identifiers.
    */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def studyId(seed: Long, i: Long): String =
    f"oai:bench:${mix(i + seed * 0x9e3779b97f4a7c15L)}%016x"

  def sourceUrl(k: Int): String = f"https://oai.archive-$k%02d.example.org/v0/oai"
  def sourceSpec(k: Int): String = f"SRC$k%02d"

  def sourceDefs(n: Int): Seq[SourceDef] =
    (0 until n).map(k =>
      SourceDef(sourceUrl(k), sourceSpec(k), s"Archive $k metadata"))

  private val Syllables = Seq("ka", "lo", "mi", "ser", "tan", "vo", "ri",
    "pel", "nu", "sta", "gor", "fi", "dem", "ol", "tra", "quin", "bex",
    "ul", "zor", "han", "ve", "mont", "ash", "ide")

  /** Pseudo-words of 4+ letters that collide with no stopword or
    * language marker the curation operators look for.
    */
  def vocabulary(seed: Long, size: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(seed ^ 0x5eed5eedL)
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < size) {
      val n = 2 + r.nextInt(3)
      val w = (0 until n).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
      if (w.length >= 4) out += w
    }
    out.toIndexedSeq
  }

  private def words(r: SplittableRandom, vocab: IndexedSeq[String], n: Int): String =
    (0 until n).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")

  private def pick[A](r: SplittableRandom, weighted: Seq[(A, Double)]): A = {
    var u = r.nextDouble() * weighted.map(_._2).sum
    weighted.find { case (_, w) => u -= w; u < 0 }.getOrElse(weighted.last)._1
  }

  def ts(ms: Long): Timestamp = new Timestamp(ms)

  /** One generated study: `source` is its publisher index, `doi` whether
    * it carries an OpenAIRE-valid identifier.
    */
  def study(
      seed: Long, i: Long, r: SplittableRandom, spec: CorpusSpec,
      vocab: IndexedSeq[String], source: Int, updatedMs: Long,
      deleted: Boolean, doi: Boolean, status: String): Study = {
    val id = studyId(seed, i)
    val lang = pick(r, spec.langs)
    val titles =
      LangAttr(s"${words(r, vocab, 6)} $i", lang) +: (
        if (lang != "en" && r.nextDouble() < spec.parallelEnglishShare)
          Seq(LangAttr(s"${words(r, vocab, 6)} $i", "en"))
        else Nil)
    val ident =
      if (doi) LangAttr(s"10.5555/bench.$i", "en", agency = "DOI")
      else LangAttr(s"local-$i", "en", agency = "Local")
    val url = sourceUrl(source)
    Study(
      study_number = s"SN$i",
      _aggregator_identifier = id,
      _direct_base_url = url,
      _metadata = RecordMeta(
        if (deleted) RecordStatus.Deleted else status,
        ts(updatedMs - 86400000L), ts(updatedMs),
        if (deleted) ts(updatedMs) else null),
      _provenance = Seq(Provenance(
        harvest_date = "2024-06-01T00:00:00Z", altered = false,
        base_url = url, identifier = s"src-$i",
        datestamp = "2020-01-01T00:00:00Z", direct = true,
        metadata_namespace = "ddi:codebook:2_5")),
      identifiers = Seq(ident),
      study_titles = titles,
      principal_investigators = Seq.fill(1 + r.nextInt(3))(
        LangAttr(words(r, vocab, 2), lang, organization = s"Institute ${r.nextInt(50)}")),
      publishers = Seq(LangAttr(s"Archive $source", lang)),
      abstracts = Seq(LangAttr(words(r, vocab, 70 + r.nextInt(50)), lang)),
      keywords = Seq.fill(3 + r.nextInt(4))(
        LangAttr(vocab(r.nextInt(vocab.size)), lang, description = vocab(r.nextInt(vocab.size)))),
      classifications = Seq(LangAttr(s"class-${r.nextInt(40)}", "en", system_name = "CESSDA")),
      publication_years = Seq(LangAttr(s"${2000 + r.nextInt(24)}-01-01", lang)),
      study_uris = Seq(LangAttr(s"https://archive-$source.example.org/study/$i", lang)),
      study_area_countries = Seq(LangAttr(lang.toUpperCase, "en")),
      data_access = Seq(LangAttr(if (r.nextBoolean()) "open" else "restricted", "en")),
      related_publications =
        if (r.nextDouble() < 0.2) Seq(LangAttr(words(r, vocab, 4), "en",
          identifier = s"10.4444/pub.$i", identifier_agency = "DOI"))
        else Nil)
  }

  final case class Corpus(
      seed: Long, spec: CorpusSpec, studies: IndexedSeq[Study], vocab: IndexedSeq[String])

  def corpus(seed: Long, spec: CorpusSpec): Corpus = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(spec.sources, spec.sourceZipf)
    val vocab = vocabulary(seed, 4000)
    val studies = (0 until spec.studies).map { i =>
      val source = zipf.draw(r)
      val updated = Epoch2015 + (r.nextDouble() * CorpusSpanMs).toLong / 1000L * 1000L
      val deleted = r.nextDouble() < spec.deletedShare
      val doi = r.nextDouble() < spec.doiShare
      study(seed, i, r, spec, vocab, source, updated, deleted, doi, RecordStatus.Created)
    }
    Corpus(seed, spec, studies, vocab)
  }

  /** Canonical digest of a generated value: timestamps by epoch millis,
    * so the digest does not depend on the JVM's time zone.
    */
  def digest(values: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def feed(v: Any): Unit = v match {
      case null         => md.update(0: Byte)
      case t: Timestamp => md.update(s"t${t.getTime}".getBytes("UTF-8"))
      case p: Product =>
        md.update(s"(${p.productPrefix}".getBytes("UTF-8"))
        p.productIterator.foreach(feed)
        md.update(')'.toByte)
      case s: Iterable[_] => md.update('['.toByte); s.foreach(feed); md.update(']'.toByte)
      case o => md.update(s"$o|".getBytes("UTF-8"))
    }
    values.foreach(feed)
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- upserts

  /** One upsert batch: each row is a full study plus its tombstone flag;
    * keys are distinct within a batch.
    */
  final case class Batch(index: Int, rows: Seq[(Study, Boolean)])

  /** Upsert mix per batch (shares of the batch size). */
  final case class UpsertSpec(
      batchRows: Int = 200,
      updateShare: Double = 0.6,
      insertShare: Double = 0.2,
      softDeleteShare: Double = 0.1,
      tombstoneShare: Double = 0.1)

  /** The writer's stream plus the model it replays: `state` is the table
    * the committed batches must produce. Single writer, so batch order
    * is commit order.
    */
  final class UpsertStream(c: Corpus, spec: UpsertSpec) {
    private val r = new SplittableRandom(c.seed ^ 0x0b5e47L)
    val state: mutable.HashMap[String, Study] =
      mutable.HashMap.from(c.studies.map(s => s._aggregator_identifier -> s))
    private val keys = mutable.ArrayBuffer.from(c.studies.map(_._aggregator_identifier))
    private val slot = mutable.HashMap.from(keys.zipWithIndex)
    private var nextId: Long = c.studies.size.toLong
    private var batchNo = 0

    private def remove(id: String): Unit = {
      val i = slot.remove(id).get
      val last = keys.remove(keys.size - 1)
      if (last != id) { keys(i) = last; slot(last) = i }
    }

    def next(): Batch = {
      val b = batchNo
      batchNo += 1
      val n = spec.batchRows
      val nIns = (n * spec.insertShare).toInt
      val nDel = (n * spec.softDeleteShare).toInt
      val nTomb = (n * spec.tombstoneShare).toInt
      val nUpd = n - nIns - nDel - nTomb
      val base = Epoch2025 + b * 3600L * 1000L
      val chosen = mutable.LinkedHashSet.empty[String]
      while (chosen.size < nUpd + nDel + nTomb) chosen += keys(r.nextInt(keys.size))
      val existing = chosen.toIndexedSeq
      var j = 0
      def stamp(): Long = { j += 1; base + j * 1000L }
      val upd = existing.take(nUpd).map { id =>
        val s = state(id)
        val t = stamp()
        s.copy(
          _metadata = RecordMeta(RecordStatus.Updated, s._metadata.created, ts(t), null),
          study_titles = LangAttr(s"revised b$b ${s.study_titles.head.value}",
            s.study_titles.head.lang) +: s.study_titles.tail) -> false
      }
      val del = existing.slice(nUpd, nUpd + nDel).map { id =>
        val s = state(id)
        val t = stamp()
        s.copy(_metadata = RecordMeta(RecordStatus.Deleted, s._metadata.created, ts(t), ts(t))) -> false
      }
      val tomb = existing.drop(nUpd + nDel).map(id => state(id) -> true)
      val ins = (0 until nIns).map { _ =>
        val i = nextId
        nextId += 1
        val source = r.nextInt(c.spec.sources)
        study(c.seed, i, r, c.spec, c.vocab, source, stamp(),
          deleted = false, doi = r.nextDouble() < c.spec.doiShare,
          status = RecordStatus.Created) -> false
      }
      Batch(b, upd ++ del ++ tomb ++ ins)
    }

    /** Fold a committed batch into the model. */
    def apply(batch: Batch): Unit = batch.rows.foreach { case (s, tomb) =>
      val id = s._aggregator_identifier
      if (tomb) {
        state.remove(id)
        remove(id)
      } else {
        if (!state.contains(id)) {
          keys += id
          slot(id) = keys.size - 1
        }
        state(id) = s
      }
    }
  }

  def sourceIndex(s: Study): Int =
    s._direct_base_url.drop("https://oai.archive-".length).take(2).toInt

  /** Per-record facts the harvest checks filter on. */
  final case class Fact(id: String, updatedMs: Long, deleted: Boolean, doi: Boolean, source: Int)

  def fact(s: Study): Fact = Fact(
    s._aggregator_identifier, s._metadata.updated.getTime,
    s._metadata.status == RecordStatus.Deleted,
    s.identifiers.exists(i => Study.OpenAireIdAgencies.contains(i.agency)),
    sourceIndex(s))

  // ------------------------------------------------------------ lookup keys

  /** GetRecord key draw: Zipf skew over a seeded permutation of the
    * corpus ids, with a share of ids the corpus does not hold.
    */
  final class KeyDraw(ids: IndexedSeq[String], seed: Long, skew: Double, unknownShare: Double) {
    private val order: IndexedSeq[String] = {
      val r = new SplittableRandom(seed ^ 0x10c4L)
      val a = ids.toArray
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq
    }
    private val zipf = new Zipf(order.size, skew)
    def draw(r: SplittableRandom): String =
      if (r.nextDouble() < unknownShare) f"oai:bench:unknown-${r.nextInt(1 << 30)}%09d"
      else order(zipf.draw(r))
  }

  // -------------------------------------------------------- curation docs

  /** Curation corpus shape: shares of the input documents. */
  final case class DocSpec(
      docs: Int = 3000,
      wordsPerDoc: Int = 120,
      lowQualityShare: Double = 0.08,
      germanShare: Double = 0.07,
      exactDupShare: Double = 0.10,
      nearDupShare: Double = 0.08,
      contaminatedShare: Double = 0.03,
      benchmarkDocs: Int = 40)

  /** `kind` is the generator's label: good | low | german | exact |
    * near | contaminated.
    */
  final case class Doc(id: Long, text: String, kind: String)

  final case class DocCorpus(docs: IndexedSeq[Doc], benchmark: IndexedSeq[Doc])

  private val EnglishGlue = Seq("the", "of", "and", "a", "is", "to", "in")
  private val GermanGlue = Seq("der", "die", "das", "und", "ist")

  private def sentence(r: SplittableRandom, vocab: IndexedSeq[String], n: Int,
      glue: Seq[String]): String =
    (0 until n).map(k =>
      if (k % 6 == 5) glue(r.nextInt(glue.size)) else vocab(r.nextInt(vocab.size))
    ).mkString(" ")

  def docs(seed: Long, spec: DocSpec): DocCorpus = {
    val r = new SplittableRandom(seed ^ 0xd0c5L)
    val vocab = vocabulary(seed ^ 0x77L, 5000)
    val bench = (0 until spec.benchmarkDocs).map(i =>
      Doc(-1L - i, sentence(r, vocab, 60, EnglishGlue), "benchmark"))
    val out = mutable.ArrayBuffer.empty[Doc]
    val goods = mutable.ArrayBuffer.empty[String]
    // ids are a seeded permutation, so which copy of a duplicate keeps
    // the lowest id is not decided by generation order
    val ids = {
      val a = Array.tabulate(spec.docs)(i => (i + 1).toLong)
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    while (out.size < spec.docs) {
      val id = ids(out.size)
      val u = r.nextDouble()
      val kinds = Seq(
        "low" -> spec.lowQualityShare, "german" -> spec.germanShare,
        "exact" -> spec.exactDupShare, "near" -> spec.nearDupShare,
        "contaminated" -> spec.contaminatedShare)
      var acc = 0.0
      val kind = kinds.find { case (_, w) => acc += w; u < acc }.map(_._1)
        .filter(kd => goods.nonEmpty || (kd != "exact" && kd != "near"))
        .getOrElse("good")
      val text = kind match {
        case "low" => sentence(r, vocab, 5, EnglishGlue)
        case "german" => sentence(r, vocab, spec.wordsPerDoc, GermanGlue)
        case "exact" => goods(r.nextInt(goods.size))
        case "near" =>
          // one substituted word: about 0.95 shingle Jaccard with its
          // original and above 0.9 with any sibling, far from the 0.8
          // threshold where MinHash recall falls
          val w = goods(r.nextInt(goods.size)).split(" ")
          w(10 + r.nextInt(w.length - 20)) = vocab(r.nextInt(vocab.size))
          w.mkString(" ")
        case "contaminated" =>
          val b = bench(r.nextInt(bench.size)).text.split(" ").slice(10, 30).mkString(" ")
          val w = sentence(r, vocab, spec.wordsPerDoc - 20, EnglishGlue)
          s"$w $b"
        case _ =>
          val t = sentence(r, vocab, spec.wordsPerDoc, EnglishGlue)
          goods += t
          t
      }
      out += Doc(id, text, kind)
    }
    DocCorpus(out.toIndexedSeq, bench)
  }
}
