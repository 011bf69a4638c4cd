package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Par}
import graft.operators.{Bpe, Curation, Dedup}

/** Seeded web-text-like corpus: Zipf-distributed pseudo-words with
  * English stopwords, some PII, a few low-quality and repetitive
  * documents the gates must drop, and about a third exact or near
  * copies of other documents. The truth kept is the exact-copy groups. */
object CurationGen {
  val Docs = 400
  val ExactCopyFrac = 1.0 / 6
  val NearCopyFrac = 1.0 / 6
  val ShortFrac = 0.04
  val RepetitiveFrac = 0.02
  val BpeRounds = 4

  private val stop = Seq("the", "a", "of", "and", "is", "to", "in")
  private val syllables = Seq("ka", "lo", "mi", "ra", "te", "su", "na", "ve",
    "po", "li", "da", "ren", "tor", "sel", "mar", "quin", "bel", "dor", "fi",
    "gu", "ho", "ja", "ne", "ox", "pri", "sta", "ul", "wen", "yo", "zu")

  final case class Corpus(docs: IndexedSeq[(Long, String)],
                          exactGroups: Seq[Seq[Long]])

  def corpus(seed: Long): Corpus = {
    val r = new Random(seed * 4099L + 3L)
    val vocab = mutable.LinkedHashSet[String]()
    while (vocab.size < 3000)
      vocab += (1 to 1 + r.nextInt(3)).map(_ => syllables(r.nextInt(syllables.size))).mkString
    val words = vocab.toIndexedSeq
    val cum = words.indices.map(i => 1.0 / math.pow(i + 1, 1.07)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String =
      if (r.nextDouble() < 0.3) stop(r.nextInt(stop.size))
      else {
        val u = r.nextDouble() * cum.last
        val i = java.util.Arrays.binarySearch(cum, u)
        words(math.min(words.size - 1, if (i >= 0) i else -i - 1))
      }
    def text(n: Int): String = {
      val b = new StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) b += ' '
        b ++= word()
        if (r.nextInt(12) == 0) b += '.'
        i += 1
      }
      if (r.nextInt(10) == 0) b ++= s" write to user${r.nextInt(1000)}@example.org"
      else if (r.nextInt(10) == 0) b ++= f" call 919-555-${r.nextInt(10000)}%04d"
      b.toString
    }
    val nCopies = (Docs * (ExactCopyFrac + NearCopyFrac)).toInt
    val originals = (0 until Docs - nCopies).map { _ =>
      val u = r.nextDouble()
      if (u < ShortFrac) text(6 + r.nextInt(8))
      else if (u < ShortFrac + RepetitiveFrac) Seq.fill(40)("buy now").mkString(" ")
      else text(110 + r.nextInt(80))
    }
    val normal = originals.indices.filter(i => originals(i).split(" ").length > 100)
    val groups = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Int]]()
    val copies = (0 until nCopies).map { c =>
      val src = normal(r.nextInt(normal.size))
      if (c < Docs * ExactCopyFrac) {
        groups.getOrElseUpdate(src, mutable.ArrayBuffer(src)) += originals.size + c
        originals(src)
      } else {
        val toks = originals(src).split(" ")
        (1 to 2).foreach(_ => toks(r.nextInt(toks.length)) = word())
        toks.mkString(" ")
      }
    }
    // ids are a seeded permutation, so copies are not always the larger id
    val ids = r.shuffle((1L to Docs.toLong).toIndexedSeq)
    val docs = (originals ++ copies).zipWithIndex.map { case (t, i) => (ids(i), t) }
    Corpus(docs, groups.values.map(_.map(i => ids(i)).toSeq).toSeq)
  }
}

/** `corpus_curation`: `Curation.run` over the seeded corpus, survivors
  * written as a curated shard, then `Bpe.trainAndVocab` and
  * `Bpe.encodeWords` over the shard, tokens written as a second shard.
  * Reads look up one document's tokens by id. */
final class CurationWorkload(ctx: Ctx) extends Workload(ctx) {
  import CurationGen._

  private val ReadsPerPass = 5
  // the generator's sizes are part of the cache key
  private def dir = s"${ctx.cache}/curation-${ctx.seed}-$Docs"
  private def corpusDir = s"$dir/corpus"
  private def shardDir = s"${ctx.work}/curated"
  private def tokensDir = s"${ctx.work}/tokens"
  private var exactGroups: Seq[Seq[Long]] = Nil
  private var allIds: IndexedSeq[Long] = IndexedSeq.empty

  def generate(): Unit = {
    val c = corpus(ctx.seed)
    exactGroups = c.exactGroups
    allIds = c.docs.map(_._1)
    if (!Files.exists(Paths.get(dir, ".done"))) {
      val session = spark
      import session.implicits._
      c.docs.toDF("id", "text").coalesce(1).write.mode("overwrite").parquet(corpusDir)
      Files.createFile(Paths.get(dir, ".done"))
    }
  }

  private def corpusFrame: DataFrame = spark.read.parquet(corpusDir)

  def op(iter: Int): Long = {
    val survivors = span("operators.Curation.run") {
      Curation.run(corpusFrame, "id", "text").select("id", "clean_text")
    }
    span("write curated shard") {
      survivors.write.mode("overwrite").parquet(shardDir)
    }
    val shard = spark.read.parquet(shardDir)
    val (merges, vocab) = span("operators.Bpe.trainAndVocab") {
      Bpe.trainAndVocab(shard, "clean_text", BpeRounds)
    }
    span("operators.Bpe.encodeWords") {
      Bpe.encodeWords(shard, "clean_text", "id", merges, vocab)
        .write.mode("overwrite").parquet(tokensDir)
    }
    Docs.toLong
  }

  def after(iter: Int): Unit =
    rec.attempt("read curated shard") {
      spark.read.parquet(shardDir).select("id").collect().map(_.getLong(0)).toSet
    }.foreach(check(iter, _))

  private def check(iter: Int, survivors: Set[Long]): Unit = {
    rec.check("curation drops some documents and keeps some") {
      survivors.nonEmpty && survivors.size < Docs
    }
    rec.check("no two exact copies both survive curation") {
      exactGroups.forall(g => g.count(survivors.contains) <= 1)
    }
    val n = size(flatten(col("bpe_word_ids")))
    rec.attempt("read tokens shard") {
      spark.read.parquet(tokensDir).agg(count(lit(1)), sum(when(n > 0, 0L).otherwise(1L)),
        coalesce(sum(n.cast("long")), lit(0L))).head()
    }.foreach { agg =>
      rec.check("BPE output is non-empty for every survivor") {
        agg.getLong(0) == survivors.size && agg.getLong(1) == 0L
      }
      rec.sample("bpe_tokens", agg.getLong(2).toDouble)
    }

    val r = new Random(ctx.seed * 31337L + iter)
    (1 to ReadsPerPass).foreach { _ =>
      val id = allIds(r.nextInt(allIds.size))
      read("lookup tokens by id") {
        spark.read.parquet(tokensDir).filter(col("id") === id).collect()
      }.foreach { rows =>
        rec.check(s"lookup $id returns its tokens iff it survived") {
          if (survivors.contains(id))
            rows.length == 1 && rows(0).getSeq[Seq[Long]](1).flatten.nonEmpty
          else rows.isEmpty
        }
      }
    }
  }

  /** Untimed: remove the last pass's shards, so the checks after a pass
    * read only what that pass wrote. */
  override def before(iter: Int): Unit =
    Seq(shardDir, tokensDir).foreach(d => SnapshotGen.deleteTree(Paths.get(d)))

  override def probe(iter: Int): Unit = {
    val corpus = corpusFrame
    rec.sample("par_input_slices", Par.estimatedInputSlices(corpus).toDouble)
    rec.sample("par_parallelism", spark.sparkContext.defaultParallelism)
    // Curation.run's own stages, one more at a time: the gates, then
    // the gates and exact dedup, whose output feeds the near-dup steps
    span("functions.TextAnalysis.gates") {
      Curation.run(corpus, "id", "text",
        Curation.Config(exactDedup = false, nearDupThreshold = None))
        .write.format("noop").mode("overwrite").save()
    }
    val (exact, exactIds) = span("operators.Curation.exactDedup") {
      Checkpoints.eager(Curation.run(corpus, "id", "text", Curation.Config(nearDupThreshold = None)))
    }
    val (pairsDf, pairIds) = span("operators.Dedup.minhashDedup") {
      Checkpoints.eager(Dedup.minhashDedup(exact, "id", "clean_text",
        threshold = Curation.Config().nearDupThreshold.get))
    }
    rec.sample("dedup_pairs", pairsDf.count().toDouble)
    span("operators.Dedup.duplicateClusters") {
      Dedup.duplicateClusters(pairsDf).count()
    }
    Seq((pairsDf, pairIds), (exact, exactIds))
      .foreach { case (df, ids) => Checkpoints.free(df, ids) }
  }
}
