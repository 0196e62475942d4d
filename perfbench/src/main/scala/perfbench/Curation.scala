package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Decontamination, Dedup, Sampling, TextAnalysis}

/** The LLM-data curation chain over the program's operators: quality and
  * language filter, exact dedup, MinHash near-dup removal,
  * decontamination against a held-out benchmark, and a deterministic
  * train/val/test split.
  */
object Chain {
  val Splits: Seq[(String, Int)] = Seq("train" -> 230, "val" -> 13, "test" -> 13)
  val NearDupThreshold = 0.8
  val ShingleN = 3
  val MinOverlap = 5

  val Stages: Seq[String] = Seq("quality", "exact_dedup", "near_dup", "decontam", "split")

  /** Curated (id, split) rows, near-dup pair count, and ms per stage. */
  final case class Out(rows: Seq[(Long, String)], nearDupPairs: Long, stageMs: Map[String, Double])

  def run(docs: DataFrame, bench: DataFrame, t: Tracer): Out = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df.cache(); df.count(); df }
    val stageMs = mutable.LinkedHashMap.empty[String, Double]
    def stage[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try t.span(s"operators.$name")(body)
      finally stageMs(name) = (System.nanoTime() - t0) / 1e6
    }
    try {
      val quality = stage("quality") {
        keep(docs
          .filter(TextAnalysis.gopherKeep(TextAnalysis.gopherRules(col("text"))) &&
            TextAnalysis.langId(col("text")) === "en")
          .select("id", "text"))
      }
      val exact = stage("exact_dedup") {
        keep(quality.join(Dedup.exact(quality, "text", "id").select("id"), "id"))
      }
      val (near, pairs) = stage("near_dup") {
        val pairs = keep(Dedup.minhashNearDups(exact, "text", "id", NearDupThreshold))
        (keep(exact.join(pairs.select(col("id_b").as("id")).distinct(), Seq("id"), "left_anti")),
          pairs.count())
      }
      val clean = stage("decontam") {
        val flagged = Decontamination.flagContaminated(near, bench, "text", "id", ShingleN, MinOverlap)
        keep(near.join(flagged.select("id"), Seq("id"), "left_anti"))
      }
      val rows = stage("split") {
        Sampling.deterministicSplit(clean, "id", Splits).select("id", "split").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      }
      Out(rows, pairs, stageMs.toMap)
    } finally cached.foreach(_.unpersist(blocking = true))
  }
}

/** Independent reference for [[Chain]]: quality and language verdicts
  * from the generator's labels, the rest computed exactly on strings.
  */
object Oracle {

  def shingles(text: String, n: Int = Chain.ShingleN): Set[String] = {
    val w = text.toLowerCase.trim.split("\\s+")
    if (w.length < n) Set(w.mkString(" "))
    else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def split(id: Long): String = {
    val b = MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))(0) & 0xff
    var acc = 0
    Chain.Splits.find { case (_, w) => acc += w; b < acc }.map(_._1).getOrElse(Chain.Splits.last._1)
  }

  def curate(c: Gen.DocCorpus): Chain.Out = {
    val quality = c.docs.filter(d => d.kind != "low" && d.kind != "german")
    val exact = quality.groupBy(_.text).values.map(_.minBy(_.id)).toIndexedSeq.sortBy(_.id)
    val sh = exact.map(d => d.id -> shingles(d.text)).toMap
    val posting = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    exact.foreach(d => sh(d.id).foreach(s => posting.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d.id))
    val shared = mutable.HashMap.empty[(Long, Long), Int]
    posting.valuesIterator.foreach { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.size) {
        val k = (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
        shared(k) = shared.getOrElse(k, 0) + 1
      }
    }
    val pairs = shared.toSeq.collect {
      case ((a, b), n) if n.toDouble / (sh(a).size + sh(b).size - n) >= Chain.NearDupThreshold => (a, b)
    }
    val dropped = pairs.map(_._2).toSet
    val benchSh = c.benchmark.flatMap(d => shingles(d.text)).toSet
    val clean = exact.filter(d => !dropped.contains(d.id) &&
      sh(d.id).count(benchSh.contains) < Chain.MinOverlap)
    Chain.Out(clean.map(d => (d.id, split(d.id))).sorted, pairs.size.toLong, Map.empty)
  }
}

/** Curation: one run of the chain per iteration over a generated corpus
  * with stated shares of low-quality, foreign, duplicate, near-duplicate
  * and contaminated documents.
  */
object CurationWorkload {

  def run(env: Env): Result = {
    val corpus = Gen.docs(env.seed, Gen.DocSpec(docs = env.docs))
    val oracle = Oracle.curate(corpus)
    val spark = env.spark
    import spark.implicits._
    def frames(docs: Seq[Gen.Doc]): (DataFrame, DataFrame) = {
      val d = docs.map(x => (x.id, x.text)).toDF("id", "text").cache()
      val b = corpus.benchmark.map(x => (x.id, x.text)).toDF("id", "text").cache()
      d.count(); b.count()
      (d, b)
    }
    var input: (DataFrame, DataFrame) = null
    val creates = (0 until env.setupRounds).map { _ =>
      if (input != null) { input._1.unpersist(); input._2.unpersist() }
      val t0 = System.nanoTime()
      input = env.tracer.span("sources.create")(frames(corpus.docs))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val (wd, wb) = frames(corpus.docs.take(env.docs / 10))
    Chain.run(wd, wb, env.tracer)
    wd.unpersist(); wb.unpersist()
    val warmS = (System.nanoTime() - t0) / 1e9
    val iterMs = new Samples
    val stageMs = Chain.Stages.map(_ -> new Samples).toMap
    val ops = new Ops
    val pairs = new java.util.concurrent.atomic.AtomicLong
    // one client: concurrent chains contend for the same cores and their
    // run times spread by a fifth from run to run
    val iterations = IndexedSeq.fill(1)(new java.util.concurrent.atomic.LongAdder)
    val timed = env.timed(1) { (client, stop) =>
      while (!stop()) {
        val t0 = System.nanoTime()
        ops.check {
          val out = env.tracer.request("bench.curation")(Chain.run(input._1, input._2, env.tracer))
          iterMs.add((System.nanoTime() - t0) / 1e6)
          iterations(client).increment()
          pairs.set(out.nearDupPairs)
          out.stageMs.foreach { case (k, v) => stageMs(k).add(v) }
          ops.rowsReturned.add(out.rows.size)
          if (out.rows != oracle.rows) {
            val kind = corpus.docs.map(d => d.id -> d.kind).toMap
            def kinds(ids: Set[Long]) =
              ids.toSeq.groupBy(kind).map { case (k, v) => s"$k×${v.size}" }.mkString(" ")
            val (got, want) = (out.rows.map(_._1).toSet, oracle.rows.map(_._1).toSet)
            Some(s"curation result: ${out.rows.size} docs, oracle ${oracle.rows.size}; " +
              s"missing [${kinds(want -- got)}] extra [${kinds(got -- want)}]; " +
              s"pairs ${out.nearDupPairs} vs ${oracle.nearDupPairs}")
          }
          else if (out.nearDupPairs != oracle.nearDupPairs)
            Some(s"near-dup pairs ${out.nearDupPairs} != oracle ${oracle.nearDupPairs}")
          else None
        }
      }
    }
    val stageLayers = stageMs.map { case (k, v) =>
      s"operators.${k}_s" -> (if (v.size == 0) 0.0 else v.sorted.sum / v.size / 1000.0)
    }
    Result.build(env, ops, Stats.median(creates.toArray.sorted) + warmS + env.sessionS, creates,
      timed, throughput = timed.rate(iterations.map(_.sum.toDouble * env.docs)),
      primary = iterMs,
      extra = stageLayers + ("operators.near_dup_pairs" -> pairs.get.toDouble))
  }
}
